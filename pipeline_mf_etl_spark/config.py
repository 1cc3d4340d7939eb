"""Settings layer: every tunable threshold/window/grid the queries use,
as frozen dataclasses with YAML + env-var override.

The reference parameterizes the same semantics via pydantic-settings +
``configs/settings.yaml`` (reference src/mf_etl/config.py:700-771,
configs/settings.yaml: ``backtest_execution_realism``, ``backtest``,
``validation.bootstrap``, ``indicators``). Here the shape is a plain
frozen-dataclass tree — no extra dependency — loaded once at import by
the query modules and injectable per-call for sweeps/tests:

    s = load_settings()                        # defaults (+ YAML if present)
    s = load_settings("my.yaml")               # explicit file
    s = override(s, realism={"price_floor": 2.0})   # programmatic knob turn

Resolution order (first wins): explicit path argument, the
``PIPELINE_MF_ETL_SPARK_SETTINGS`` env var, ``configs/settings.yaml``
next to the repo root, built-in defaults. YAML files specify only the
keys they override.

Query modules build BOTH the Spark plan and the DuckDB oracle SQL from
the same Settings instance, so an override flows end-to-end and parity
remains checkable at any knob value (tests/test_config.py).
"""

from __future__ import annotations

import dataclasses
import os
from dataclasses import dataclass, field
from pathlib import Path

_ENV_VAR = "PIPELINE_MF_ETL_SPARK_SETTINGS"
_DEFAULT_FILE = Path(__file__).resolve().parent.parent / "configs" / "settings.yaml"


@dataclass(frozen=True)
class RealismSettings:
    """B4 execution-realism gates (reference settings.yaml
    ``backtest_execution_realism.profiles``)."""

    price_floor: float = 5.0
    dollar_vol_floor: float = 1000.0
    dollar_vol_window: int = 20
    warmup_bars: int = 20


@dataclass(frozen=True)
class SensitivitySettings:
    """B10 hold×cost sensitivity grid (reference
    ``backtest_sensitivity``)."""

    hold_bars: tuple[int, ...] = (3, 5, 8)
    cost_bps: tuple[int, ...] = (0, 10, 20)


@dataclass(frozen=True)
class CalibrationSettings:
    """B14 realism-calibration sweep grid (reference
    ``backtest_execution_calibration``)."""

    price_floors: tuple[float, ...] = (1.0, 5.0, 10.0)
    dollar_vol_floors: tuple[float, ...] = (500.0, 1000.0, 2000.0, 4000.0)


@dataclass(frozen=True)
class BacktestSettings:
    """B6-B8 trade-simulation knobs (reference settings.yaml
    ``backtest``: hold_bars / fee_bps_per_side / slippage_bps_per_side)."""

    hold_bars: int = 5
    fee_bps_per_side: float = 5.0
    slippage_bps_per_side: float = 5.0

    @property
    def round_trip_cost(self) -> float:
        """Two-sided fee+slippage as a return fraction."""
        return 2.0 * (self.fee_bps_per_side + self.slippage_bps_per_side) / 1e4


@dataclass(frozen=True)
class BootstrapSettings:
    """M13-M15 bootstrap knobs (reference settings.yaml
    ``validation.bootstrap``)."""

    n_boot: int = 200
    cap: int = 50_000
    seed: int = 42
    ci_lo: float = 2.5
    ci_hi: float = 97.5
    block_len: int = 10


@dataclass(frozen=True)
class IndicatorSettings:
    """W3 smoothing span (reference settings.yaml ``indicators``)."""

    ewm_span: int = 10


@dataclass(frozen=True)
class GraphSettings:
    """Iterative-graph fault tolerance (d5 connected components, g1/g2
    PageRank). ``reliable_checkpoints=True`` switches every
    loop-carried checkpoint from executor-local ``localCheckpoint`` to
    fault-tolerant ``checkpoint()`` — required on a real cluster where
    losing an executor mid-run must not fail the job; point
    ``spark.sparkContext.setCheckpointDir(...)`` at durable storage
    first. Default False = the local[32]/short-job fast path."""

    reliable_checkpoints: bool = False


@dataclass(frozen=True)
class StreamingSettings:
    """Streaming-ingest guards. ``lsh_max_bucket`` caps per-(band,
    bucket) index membership consulted by the online near-dup admission
    paths (st7's static lookup and the growing-LSH foreachBatch ingest)
    — a near-exact duplicate flood otherwise turns one bucket into an
    unbounded join fan-out mid-ingest, where no d1-first batch ordering
    protects it. Deterministic: the ``lsh_max_bucket`` smallest doc ids
    per bucket are kept, so the cap is oracle-expressible. ``None``
    disables the cap (exact candidate set); a value below 1 is
    rejected when the admission plan is built."""

    lsh_max_bucket: int | None = 64


@dataclass(frozen=True)
class PrecisionSettings:
    """Layer float width on DISK (reference settings.yaml ``precision``:
    bronze float64, silver/gold float32 — compute always float64, the
    downcast happens at the layer write)."""

    bronze_float: str = "double"
    silver_float: str = "float"
    gold_float: str = "float"


@dataclass(frozen=True)
class Settings:
    realism: RealismSettings = field(default_factory=RealismSettings)
    sensitivity: SensitivitySettings = field(default_factory=SensitivitySettings)
    calibration: CalibrationSettings = field(default_factory=CalibrationSettings)
    backtest: BacktestSettings = field(default_factory=BacktestSettings)
    bootstrap: BootstrapSettings = field(default_factory=BootstrapSettings)
    indicators: IndicatorSettings = field(default_factory=IndicatorSettings)
    graph: GraphSettings = field(default_factory=GraphSettings)
    streaming: StreamingSettings = field(default_factory=StreamingSettings)
    precision: PrecisionSettings = field(default_factory=PrecisionSettings)


_SECTIONS = {f.name: f.type for f in dataclasses.fields(Settings)}


def override(base: Settings, **sections) -> Settings:
    """New Settings with per-section dict overrides, e.g.
    ``override(s, realism={"price_floor": 2.0})``. Lists in overrides
    become tuples so sections stay hashable/frozen."""
    updates = {}
    for name, vals in sections.items():
        if name not in _SECTIONS:
            raise KeyError(f"unknown settings section {name!r}")
        if not isinstance(vals, dict):
            raise ValueError(
                f"settings section {name!r} must be a mapping of field "
                f"overrides, got {type(vals).__name__}: {vals!r}"
            )
        current = getattr(base, name)
        fixed = {
            k: tuple(v) if isinstance(v, list) else v for k, v in vals.items()
        }
        unknown = set(fixed) - {f.name for f in dataclasses.fields(current)}
        if unknown:
            raise KeyError(f"unknown keys {sorted(unknown)} in section {name!r}")
        updates[name] = dataclasses.replace(current, **fixed)
    return dataclasses.replace(base, **updates)


def load_settings(path: str | os.PathLike | None = None) -> Settings:
    """Defaults overlaid with a YAML file (explicit arg > env var >
    ``configs/settings.yaml`` > none). The YAML holds only overrides."""
    chosen: Path | None = None
    if path is not None:
        chosen = Path(path)
    elif os.environ.get(_ENV_VAR):
        chosen = Path(os.environ[_ENV_VAR])
    elif _DEFAULT_FILE.exists():
        chosen = _DEFAULT_FILE

    s = Settings()
    if chosen is None:
        return s
    try:
        import yaml
    except ImportError as exc:
        # raise something the query registry will NOT swallow as
        # "module not built yet" (it catches ModuleNotFoundError only) —
        # a missing optional dep must not silently drop query families.
        raise RuntimeError(
            f"settings file {chosen} exists but PyYAML is not installed; "
            "install pyyaml or remove/unset the settings file"
        ) from exc

    data = yaml.safe_load(chosen.read_text()) or {}
    if not isinstance(data, dict):
        raise ValueError(f"settings file {chosen} must be a mapping")
    # drop only EXPLICIT nulls (a yaml `section:` placeholder); an empty
    # mapping is a no-op override and anything non-dict is rejected by
    # override() with the section named — never silently ignored.
    return override(s, **{k: v for k, v in data.items() if v is not None})
