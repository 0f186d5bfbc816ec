"""Testdata table loaders — schema-enforced parquet scans (SURVEY §2 S9)
with FOOTER-DRIVEN physical-type tolerance.

The reference never infers schemas for Spark reads (silver_processor.py:
144-146 applies a declared StructType); we do the same for every table.
Enforced schemas also guarantee the scan's ReadSchema is exactly the
registry type, so column pruning and filter pushdown behave predictably.

What the reference never faces — it owns its writers — is OTHER
PEOPLE'S parquet changing physical representation underneath a declared
logical schema. This repo got burned exactly once: the testdata
generator switched ``events.ts`` from TIMESTAMP(NANOS) to
``timestamp[us]`` and the enforced int64-nanos read silently produced
1970 timestamps across every events query. The loader therefore probes
each file's FOOTER (pyarrow, metadata-only, cached per mtime) before
every read and adapts:

- logical type matches the registry → enforced read as declared;
- a registry ``timestamp`` stored as TIMESTAMP(NANOS) or raw int64
  epoch-nanos → read as long + exact ``div 1000`` (never double
  division: ns epochs ≈ 1.7e18 exceed double's 53-bit mantissa),
  matching DuckDB's ns→µs truncation;
- extra footer columns → pruned (the enforced read never sees them);
- a MISSING or INCOMPATIBLE column → loud :class:`SchemaDriftError`,
  never a silent null/garbage column.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from . import schemas

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# (probe file path, mtime) → {column: "nanos-long"} conversion plan.
# Keyed on mtime so a driver-side testdata regeneration invalidates the
# cache instead of serving a stale read plan.
_PLAN_CACHE: dict[tuple[str, float], dict[str, str]] = {}


def _probe_file(path: str) -> str:
    """Resolve the single parquet file to footer-probe (first data file
    for directory layouts)."""
    if os.path.isdir(path):
        parts = sorted(
            os.path.join(path, f) for f in os.listdir(path) if f.endswith(".parquet")
        )
        return parts[0] if parts else path
    return path


def _pa_compatible(pa_type, spark_type: T.DataType) -> bool:
    """Does an enforced Spark read of a footer type ``pa_type`` yield
    ``spark_type`` faithfully? (Widening int reads are fine; anything
    lossy or cross-family is not.)"""
    import pyarrow as pa

    s = spark_type.simpleString()
    if s == "bigint":
        return pa.types.is_integer(pa_type)
    if s == "int":
        return pa.types.is_integer(pa_type) and pa_type.bit_width <= 32
    if s == "double":
        return pa.types.is_floating(pa_type)
    if s == "float":
        return pa.types.is_float32(pa_type) or pa.types.is_float16(pa_type)
    if s == "string":
        return pa.types.is_string(pa_type) or pa.types.is_large_string(pa_type)
    if s == "binary":
        return pa.types.is_binary(pa_type) or pa.types.is_large_binary(pa_type)
    if s == "boolean":
        return pa.types.is_boolean(pa_type)
    if s == "timestamp":
        return pa.types.is_timestamp(pa_type) and pa_type.unit != "ns"
    if s == "date":
        return pa.types.is_date(pa_type)
    if s.startswith("array<"):
        if not (pa.types.is_list(pa_type) or pa.types.is_large_list(pa_type)):
            return False
        return _pa_compatible(pa_type.value_type, spark_type.elementType)
    # decimals/structs/maps: exact simpleString match via arrow→spark
    # isn't needed for the registry's tables; treat conservatively
    return False


def _epoch_unit_of(probe: str, col: str) -> str:
    """Classify a RAW-int epoch column's unit by magnitude, using the
    parquet row-group statistics (footer metadata, no data scan; falls
    back to reading a single value if stats are absent). 2024-era
    epochs: seconds ≈ 1.7e9, millis ≈ 1.7e12, micros ≈ 1.7e15,
    nanos ≈ 1.7e18 — three orders of magnitude apart, so the bands are
    unambiguous for any timestamp between 1973 and 2500. Raises
    :class:`schemas.SchemaDriftError` outside every band rather than
    guessing: an int64 column that LOOKS like a timestamp but holds
    e.g. sequence numbers must not be silently rescaled."""
    import pyarrow.parquet as pq

    sample: int | None = None
    meta = pq.ParquetFile(probe)
    # row-group column chunks are indexed by LEAF (physical) column
    # order, which diverges from the arrow top-level field index as
    # soon as a multi-leaf nested column precedes this one (review r6):
    # resolve the leaf index by path instead. A raw-int epoch column is
    # always a single top-level leaf, so its path IS the field name.
    pqs = meta.metadata.schema
    leaf_idx = next(
        (i for i in range(len(pqs)) if pqs.column(i).path == col), None
    )
    if leaf_idx is None:
        raise schemas.SchemaDriftError(
            f"column {col!r} @ {probe}: not a top-level leaf column"
        )
    for rg in range(meta.metadata.num_row_groups):
        stats = meta.metadata.row_group(rg).column(leaf_idx).statistics
        if stats is not None and stats.has_min_max:
            sample = int(stats.max)
            break
    if sample is None:  # stats suppressed: read values row group by
        # row group until a non-null appears (review r6: sampling ONLY
        # group 0 guessed "nanos" when it happened to be all-null, and
        # later non-null groups of a different unit were then silently
        # rescaled wrong)
        for rg in range(meta.metadata.num_row_groups):
            tbl = meta.read_row_group(rg, columns=[col])
            vals = [v for v in tbl.column(0).to_pylist() if v is not None]
            if vals:
                sample = int(vals[0])
                break
        else:
            return "nanos"  # ENTIRELY null: unit is irrelevant, any works
    mag = abs(sample)
    if 10**17 <= mag < 10**20:
        return "nanos"
    if 10**14 <= mag < 10**17:
        return "micros"
    if 10**11 <= mag < 10**14:
        return "millis"
    if 10**8 <= mag < 10**11:
        return "seconds"
    raise schemas.SchemaDriftError(
        f"column {col!r} @ {probe}: raw int value {sample} matches no "
        f"epoch magnitude band (sec/ms/µs/ns) — refusing to rescale"
    )


def read_plan(name: str, sf_dir: str = DEFAULT_SF_DIR) -> dict[str, str]:
    """Footer-vs-registry compatibility check for one table; returns the
    per-column conversion plan ({} = enforced read as declared,
    {"ts": "nanos-long"} = read int64 + div 1000,
    {"ts": "micros-long"} etc. for the other epoch units). Raises
    :class:`schemas.SchemaDriftError` on a missing or incompatible
    column — the loud alternative to round 3's silent misread.

    Contract: one physical form per table directory. The probe reads
    ONE footer (first data file in directory layouts) — a directory
    mixing physical forms across files is not supported and will fail
    at read time on the unprobed files rather than silently; testdata
    and the engine's own writers never produce mixed directories."""
    expected = schemas.TABLES[name]
    probe = _probe_file(f"{sf_dir}/{name}.parquet")
    key = (probe, os.path.getmtime(probe))
    if key in _PLAN_CACHE:
        return _PLAN_CACHE[key]

    import pyarrow as pa
    import pyarrow.parquet as pq

    footer = pq.read_schema(probe)
    footer_types = {f.name: f.type for f in footer}
    plan: dict[str, str] = {}
    problems: list[str] = []
    for field in expected.fields:
        if field.name not in footer_types:
            problems.append(f"missing column {field.name!r}")
            continue
        pa_t = footer_types[field.name]
        if _pa_compatible(pa_t, field.dataType):
            continue
        is_ts = field.dataType.simpleString() == "timestamp"
        if is_ts and pa.types.is_timestamp(pa_t) and pa_t.unit == "ns":
            plan[field.name] = "nanos-long"
            continue
        if is_ts and pa.types.is_integer(pa_t):
            # RAW int epoch: the unit is NOT declared — round 3's bug
            # was assuming one. Classify by magnitude (footer stats).
            plan[field.name] = f"{_epoch_unit_of(probe, field.name)}-long"
            continue
        problems.append(
            f"column {field.name!r}: stored {pa_t} incompatible with "
            f"declared {field.dataType.simpleString()}"
        )
    if problems:
        raise schemas.SchemaDriftError(
            f"table {name!r} @ {probe}: " + "; ".join(problems)
        )
    _PLAN_CACHE[key] = plan
    return plan


def read_schema_for(name: str, plan: dict[str, str]) -> T.StructType:
    """The enforced READ schema implementing ``plan``: declared registry
    types, with ``*-long`` columns read as LongType for later
    conversion."""
    expected = schemas.TABLES[name]
    return T.StructType(
        [
            T.StructField(
                f.name,
                T.LongType() if plan.get(f.name, "").endswith("-long") else f.dataType,
                f.nullable,
            )
            for f in expected.fields
        ]
    )


def apply_plan(df: DataFrame, plan: dict[str, str]) -> DataFrame:
    """Convert plan columns to their declared logical types. Exact
    integer arithmetic only (``div``, never double division: ns epochs
    ≈ 1.7e18 exceed double's 53-bit mantissa)."""
    from pyspark.sql import functions as F

    for col, action in plan.items():
        if action == "nanos-long":
            df = df.withColumn(col, F.timestamp_micros(F.expr(f"`{col}` div 1000")))
        elif action == "micros-long":
            df = df.withColumn(col, F.timestamp_micros(F.col(col)))
        elif action == "millis-long":
            df = df.withColumn(col, F.timestamp_millis(F.col(col)))
        elif action == "seconds-long":
            df = df.withColumn(col, F.timestamp_seconds(F.col(col)))
    return df


# Tables whose downstream work is CPU-heavy NARROW compute (gram
# explodes, vector math) rather than shuffle-bound relational ops. A
# small single-row-group parquet file arrives as ONE scan task, and a
# narrow pipeline inherits that single task end-to-end — the measured
# local trap (VERDICT r05 task 6: four queries hand-patched fan_out;
# the next heavy query would forget). load_table now applies the
# conditional fan-out as POLICY for these tables: a no-op whenever the
# source already arrives with >= defaultParallelism splits (always, at
# cluster scale), and Catalyst pushes projections/filters below the
# round-robin exchange so a cheap `count(*)` shuffles no payload.
CPU_HEAVY_TABLES = frozenset({"documents", "embeddings"})


def load_table(
    spark: SparkSession,
    name: str,
    sf_dir: str = DEFAULT_SF_DIR,
    fan_out: bool | None = None,
) -> DataFrame:
    """Read one testdata table, registry schema enforced, physical form
    footer-adapted (see module docstring). The surfaced schema is always
    exactly the registry type.

    ``fan_out``: None (default) applies the :data:`CPU_HEAVY_TABLES`
    policy; True/False force it per call."""
    plan = read_plan(name, sf_dir)
    path = f"{sf_dir}/{name}.parquet"
    # tz-naive parquet timestamps (pyarrow's default) are reinterpreted
    # in the SESSION timezone by Spark's TimestampType read — under any
    # non-UTC session every timestamp silently shifts (review r6). The
    # engine pins UTC (session.py); a foreign session gets a loud error
    # instead of shifted data.
    if any(
        f.dataType.typeName() == "timestamp"
        for f in schemas.TABLES[name].fields
    ):
        tz = spark.conf.get("spark.sql.session.timeZone", "")
        if tz.upper() not in ("UTC", "ETC/UTC", "GMT", "Z"):
            raise schemas.SchemaDriftError(
                f"load_table({name!r}): session timeZone is {tz!r}; "
                "timestamp columns are stored tz-naive-as-UTC and would "
                "silently shift — set spark.sql.session.timeZone=UTC "
                "(session.get_spark does this)"
            )
    df = spark.read.schema(read_schema_for(name, plan)).parquet(path)
    df = apply_plan(df, plan)
    use_fan_out = fan_out if fan_out is not None else name in CPU_HEAVY_TABLES
    if use_fan_out:
        from .parallelism import fan_out as _fan_out

        df = _fan_out(df)
    return df


def events_ts_kind(sf_dir: str = DEFAULT_SF_DIR) -> str:
    """Physical form of ``events.ts`` as :func:`read_plan` classifies
    it: ``"timestamp"`` (parquet TIMESTAMP µs/ms — direct read) or one
    of ``"nanos-long"`` / ``"micros-long"`` / ``"millis-long"`` /
    ``"seconds-long"`` (raw int64 epoch, unit classified from footer
    stats, read + exact rescale). The testdata has only ever shipped
    the first two; the epoch-unit generality is read_plan's, and this
    probe passes it through rather than narrowing it (review r6: the
    old docstring claimed a two-value contract with "any third form
    raises" — FALSE for other epoch units; consumers must switch on
    the value, not assume binary). What DOES raise loudly
    (SchemaDriftError): an incompatible type or an int64 outside every
    epoch magnitude band. Streaming reads key off the full plan
    (streaming/core.stream_events uses read_plan directly)."""
    return read_plan("events", sf_dir).get("ts", "timestamp")


def check_drift(spark: SparkSession, name: str, sf_dir: str = DEFAULT_SF_DIR) -> None:
    """Schema-drift probe (SURVEY §1.3; reference config.yaml:109):
    verify the table's FOOTER is compatible with the registry (no data
    scan). :func:`load_table` runs the same check on every read — this
    entry point exists for pipelines that want the check BEFORE
    processing a batch, and for tests."""
    read_plan(name, sf_dir)  # raises SchemaDriftError on drift


def load_tables(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> dict[str, DataFrame]:
    """Load the full star schema as a dict of DataFrames."""
    return {name: load_table(spark, name, sf_dir) for name in TABLE_NAMES}
