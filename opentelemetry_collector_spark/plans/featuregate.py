"""Feature-gate registry — the reference's lifecycle-staged feature
flags (featuregate/registry.go:109-196, stage.go:10-29, flag.go:51-71).

Semantics matched to the reference:

* gate ids are non-empty, alphanumeric + dots only
  (registry.go idRegexp, validateID:117-126);
* stages: ALPHA (default off), BETA (default on), STABLE (permanently
  on — disabling errors), DEPRECATED (permanently off — enabling
  errors) (stage.go; Set at registry.go:170-196);
* STABLE and DEPRECATED gates must carry a removal version
  (registry.go:150-152);
* duplicate registration errors (ErrAlreadyRegistered);
* setting an unknown gate errors and names the valid gates;
* the ``--feature-gates`` flag takes a comma-delimited list, a ``-``
  prefix disables, ``+`` or bare enables (flag.go:14-15,51-71).

This is plan-time configuration (which operators/behaviors a submitted
job enables), not executor state — the registry lives on the driver
and gates are read while building the DataFrame plan.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

ALPHA = "alpha"
BETA = "beta"
STABLE = "stable"
DEPRECATED = "deprecated"

_STAGES = (ALPHA, BETA, STABLE, DEPRECATED)
_ID_RE = re.compile(r"^[0-9a-zA-Z.]+$")


class GateError(ValueError):
    """Invalid gate registration or assignment."""


@dataclass
class Gate:
    id: str
    stage: str
    enabled: bool
    description: str = ""
    to_version: str = ""


@dataclass
class Registry:
    _gates: dict[str, Gate] = field(default_factory=dict)

    def register(
        self,
        gate_id: str,
        stage: str,
        description: str = "",
        to_version: str = "",
    ) -> Gate:
        """registry.go:128-167 Register: validated id, stage-derived
        default enabled state, removal version required for terminal
        stages, duplicate ids rejected."""
        if not gate_id:
            raise GateError("invalid ID: empty ID")
        if not _ID_RE.match(gate_id):
            raise GateError(
                f"invalid ID {gate_id!r}: invalid character(s) in ID"
            )
        if stage not in _STAGES:
            raise GateError(
                f"unknown stage value {stage!r} for gate {gate_id!r}"
            )
        if stage in (STABLE, DEPRECATED) and not to_version:
            raise GateError(
                f"no removal version set for {stage} gate {gate_id!r}"
            )
        if gate_id in self._gates:
            raise GateError(
                f"failed to register {gate_id!r}: gate is already registered"
            )
        g = Gate(
            id=gate_id,
            stage=stage,
            enabled=stage in (BETA, STABLE),
            description=description,
            to_version=to_version,
        )
        self._gates[gate_id] = g
        return g

    def set(self, gate_id: str, enabled: bool) -> None:
        """registry.go:170-196 Set: unknown id errors naming the valid
        gates; STABLE cannot be disabled, DEPRECATED cannot be
        enabled (re-asserting their permanent state is a no-op)."""
        g = self._gates.get(gate_id)
        if g is None:
            raise GateError(
                f"no such feature gate {gate_id!r}. valid gates: "
                f"{sorted(self._gates)}"
            )
        if g.stage == STABLE:
            if not enabled:
                raise GateError(
                    f"feature gate {gate_id!r} is stable, can not be disabled"
                )
            return
        if g.stage == DEPRECATED:
            if enabled:
                raise GateError(
                    f"feature gate {gate_id!r} is deprecated, "
                    f"can not be enabled"
                )
            return
        g.enabled = enabled

    def is_enabled(self, gate_id: str) -> bool:
        g = self._gates.get(gate_id)
        if g is None:
            raise GateError(
                f"no such feature gate {gate_id!r}. valid gates: "
                f"{sorted(self._gates)}"
            )
        return g.enabled

    def apply_flag(self, spec: str) -> None:
        """``--feature-gates`` grammar (flag.go:51-71): comma-delimited
        ids, '-' prefix disables, '+' or bare enables; empty spec is a
        no-op. All assignments are attempted; the FIRST error is raised
        after (the reference accumulates with multierr — here the
        combined message carries every failure)."""
        if not spec:
            return
        errs = []
        for raw in spec.split(","):
            gid, val = raw, True
            if raw[:1] == "-":
                gid, val = raw[1:], False
            elif raw[:1] == "+":
                gid = raw[1:]
            try:
                self.set(gid, val)
            except GateError as e:
                errs.append(str(e))
        if errs:
            raise GateError("; ".join(errs))


_global = Registry()


def global_registry() -> Registry:
    """The process-wide registry (registry.go:29-31 GlobalRegistry)."""
    return _global


# The engine's own gates (BETA: on by default, can be opted out of on
# the --feature-gates flag; ALPHA: explicit opt-in).
_global.register(
    "engine.aqeSkewJoin", BETA,
    "let AQE split skewed shuffle partitions in joins",
)
_global.register(
    "engine.broadcastEnrich", BETA,
    "broadcast the enrichment dimension tables",
)
_global.register(
    "engine.reliableCheckpoint", ALPHA,
    "use reliable checkpoint() instead of localCheckpoint() in "
    "iterative jobs (connected components) — survives executor loss "
    "at the cost of writing to the cluster checkpoint dir",
)
