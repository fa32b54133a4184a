"""Engine configuration.

The reference keeps a process-wide singleton (/root/reference/src/MOBPY/config.py:15-56)
with ``epsilon=1e-12``. The engine keeps the same constant (it is
load-bearing for allclose parity: PAVA violation
tolerance and WoE clipping both use ``epsilon``) but passes config explicitly —
module-level mutable state does not survive ``spark-submit --py-files`` pickling
to executors.
"""

from __future__ import annotations

from dataclasses import dataclass

from . import artifacts


# settings an earlier EngineConfig wrote to its JSON file but nothing read;
# from_json still accepts files that carry them
_RETIRED_KEYS = ("max_iterations", "shuffle_partitions")


@dataclass(frozen=True)
class EngineConfig:
    """Numerical knobs shared by driver-side algorithm and Spark-side ops.

    Attributes:
        epsilon: float comparison tolerance and WoE clip bound
            (reference: config.py:35).
        default_prebins: cap on candidate pre-bins for continuous features at
            scale. The reference groups on every distinct x
            (core/pava.py:268) which explodes at 10^12 rows; the engine caps
            candidate groups via quantile pre-binning unless prebins is None
            (exact mode, used by parity tests).
    """

    epsilon: float = 1e-12
    default_prebins: int = 256

    def to_json(self, path: str) -> None:
        """JSON round-trip (reference config.py:100-143 save/load analog)."""
        import dataclasses

        artifacts.save_json(dataclasses.asdict(self), path)

    @classmethod
    def from_json(cls, path: str) -> "EngineConfig":
        d = artifacts.load_json(path)
        for k in _RETIRED_KEYS:
            d.pop(k, None)
        return cls(**d)


DEFAULT_CONFIG = EngineConfig()
