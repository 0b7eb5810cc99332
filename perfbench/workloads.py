"""The workloads as lists of units, each a short sequence of timed
steps that call into the engine's public functions.

A read unit is one registered query, built by its callable and run
through a sink. A lake unit is either a streaming replay (a registered
query whose callable runs the stream) or one table cycle: a seeded list
of ``catalog.TableManager``, ``versioning.VersionedTable`` and
``matview.IncrementalAggView`` calls on slices of the ``events``
fixture. Every step can say what DuckDB computes for it, so the check
pass compares results without re-deriving them inside Spark.
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Callable
from dataclasses import dataclass, field
from urllib.parse import urlparse

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

LLM_CORPUS = [
    "q82_minhash_lsh_neardup",
    "q83_cosine_topk_exact",
    "q85b_top_terms",
    "q171_span_dedup_clean",
    "q172_pq_adc_topk",
]
LAKE_REPLAYS = ["q72_stream_tumbling_replay"]
# Two workloads only. A third, olap_star (the 12 non-LLM bench queries),
# was dropped: the time limit on all of a benchmark's runs leaves room
# for the set-up and measured passes of two, and llm_corpus keeps the
# operators, io and plans layers covered, with the py4j- and Arrow-heavy
# queries besides.
WORKLOADS = ("llm_corpus", "lake_ingest")
# Untimed passes after the check pass, counted in setup_s. llm_corpus
# kept getting faster for three passes (6.3, 5.5, 4.7, then 4.1-4.6 s).
# lake_ingest gets none: its first pass after the check ran from 10%
# faster to 30% slower than the next, and at 10-13 s a pass there is no
# room for one within the time limit on all runs.
WARM_PASSES = {"llm_corpus": 2, "lake_ingest": 0}
# Measured passes a run makes at least, even past --seconds, so the
# medians rest on more than one pass.
MIN_PASSES = {"llm_corpus": 3, "lake_ingest": 2}

# Scale factor of the fixtures each workload reads.
SCALE = "sf0.01"

EVENT_COLS = ["event_id", "ts", "user_id", "event_type", "value", "props"]
SLICE_ROWS = 400
VT_SLICES = 4
MERGE_ROWS = 150


@dataclass
class Step:
    """One timed call into the engine.

    ``call`` is the engine call; when it returns a DataFrame, ``sink``
    says how a measured pass consumes it ("noop" or "collect"). In the
    check pass every returned DataFrame is collected and compared with
    ``expect()``, DuckDB's answer; without ``expect`` it must have rows.
    """

    name: str
    layer: str  # "query", "replay", or the table layer, e.g. "catalog.append"
    call: Callable[[], object]
    sink: str | None = None
    expect: Callable[[], pd.DataFrame] | None = None


@dataclass
class Unit:
    name: str
    steps: list[Step]
    # (label, engine frame, DuckDB frame) compared after the unit ran
    checks: list[tuple[str, Callable[[], object], Callable[[], pd.DataFrame]]] = field(
        default_factory=list
    )
    # called after each step, and once after the unit's last step
    after_step: Callable[[Step], None] | None = None
    finish: Callable[[], None] | None = None
    # data-file bytes written per layer, bytes of user rows fed in
    bytes_by_layer: dict[str, int] = field(default_factory=dict)
    user_bytes: int = 0
    stats: dict[str, float] = field(default_factory=dict)


class Oracle:
    """DuckDB over the same fixture files and generated inputs."""

    def __init__(self, sf_dir: str) -> None:
        import duckdb

        from aws_iceberg_automation_spark.io import TABLES

        self.con = duckdb.connect()
        for t in TABLES:
            self.con.sql(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
            )

    def df(self, sql: str) -> pd.DataFrame:
        return self.con.sql(sql).df()

    def run(self, statements: list[str]) -> pd.DataFrame:
        for s in statements[:-1]:
            self.con.execute(s)
        return self.df(statements[-1])


def query_units(spark, sf_dir: str, names: list[str], layer: str, sink: str, oracle: Oracle):
    """One unit per registered query: its callable, then ``sink``."""
    from aws_iceberg_automation_spark.registry import all_specs

    specs = all_specs()
    return [
        Unit(
            name,
            [
                Step(
                    name,
                    layer,
                    lambda fn=specs[name].fn: fn(spark, sf_dir),
                    sink=sink,
                    expect=(lambda sql=specs[name].oracle: oracle.df(sql))
                    if specs[name].oracle
                    else None,
                )
            ],
        )
        for name in names
    ]


# -- lake inputs -------------------------------------------------------


@dataclass(frozen=True)
class LakeInputs:
    """Seeded slices of the ``events`` fixture, written as parquet. The
    engine reads these files; DuckDB reads the same files."""

    vt_slices: list[str]  # in the order they are appended
    vt_merge: str
    cat_slice: str
    cat_merge: str
    delete_pred: str
    update_pred: str
    scan_lo: int
    scan_hi: int


def make_lake_inputs(sf_dir: str, out_dir: str, seed: int) -> LakeInputs:
    rng = np.random.default_rng(seed)
    ev = pq.read_table(os.path.join(sf_dir, "events.parquet"), columns=EVENT_COLS)
    ev = ev.sort_by("event_id")
    n = ev.num_rows
    need = (VT_SLICES + 1) * SLICE_ROWS + 2 * MERGE_ROWS
    base = int(rng.integers(0, n - need))
    os.makedirs(out_dir, exist_ok=True)

    def write(name: str, table: pa.Table) -> str:
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path)
        return path

    def rows(lo: int, count: int) -> pa.Table:
        return ev.slice(base + lo, count)

    def upserts(existing: pa.Table, fresh: pa.Table) -> pa.Table:
        # MERGE_ROWS matched keys with a changed value, plus new keys
        pick = np.sort(rng.choice(existing.num_rows, MERGE_ROWS, replace=False))
        changed = existing.take(pa.array(pick)).to_pandas()
        changed["value"] = changed["value"] + 0.25
        merged = pd.concat([changed, fresh.to_pandas()], ignore_index=True)
        return pa.Table.from_pandas(merged, schema=ev.schema, preserve_index=False)

    slices = [rows(i * SLICE_ROWS, SLICE_ROWS) for i in range(VT_SLICES)]
    order = rng.permutation(VT_SLICES)
    vt_paths = [write(f"vt_slice_{i}", slices[i]) for i in order]
    fresh_at = (VT_SLICES + 1) * SLICE_ROWS
    vt_merge = write(
        "vt_merge", upserts(pa.concat_tables(slices), rows(fresh_at, MERGE_ROWS))
    )
    cat = rows(VT_SLICES * SLICE_ROWS, SLICE_ROWS)
    cat_slice = write("cat_slice", cat)
    cat_merge = write("cat_merge", upserts(cat, rows(fresh_at + MERGE_ROWS, MERGE_ROWS)))
    types = sorted(set(ev.column("event_type").to_pylist()))
    first_id = ev.column("event_id")[base].as_py()
    scan_lo = first_id + int(rng.integers(0, (VT_SLICES - 2) * SLICE_ROWS))
    return LakeInputs(
        vt_slices=vt_paths,
        vt_merge=vt_merge,
        cat_slice=cat_slice,
        cat_merge=cat_merge,
        delete_pred=f"user_id % 7 = {int(rng.integers(7))}",
        update_pred=f"event_type = '{types[int(rng.integers(len(types)))]}'",
        scan_lo=scan_lo,
        scan_hi=scan_lo + SLICE_ROWS,
    )


def _files(root: str) -> dict[str, int]:
    """Data files (parquet) under root, by path, with their sizes."""
    out = {}
    for d, _, names in os.walk(root):
        for name in names:
            if name.endswith(".parquet"):
                p = os.path.join(d, name)
                out[p] = os.path.getsize(p)
    return out


def _tree_bytes(root: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, name)) for d, _, names in os.walk(root) for name in names
    )


def _parquet_list(paths: list[str]) -> str:
    return "[" + ", ".join(f"'{p}'" for p in paths) + "]"


def table_cycle(
    spark, work: str, warehouse: str, spec_path: str, inp: LakeInputs, oracle: Oracle
) -> Unit:
    """One table cycle on fresh tables. Roots are cleared before the
    cycle, outside any timed step."""
    from aws_iceberg_automation_spark.catalog import TableManager
    from aws_iceberg_automation_spark.matview import IncrementalAggView, Measure
    from aws_iceberg_automation_spark.versioning import VersionedTable
    from pyspark.sql import functions as F

    table = "bronze.events_raw"
    tm = TableManager(spark)
    tm.drop_table(table)
    vt_root = os.path.join(work, "vt")
    mv_root = os.path.join(work, "mv")
    cat_root = os.path.join(warehouse, "bronze.db", "events_raw")
    for root in (vt_root, mv_root, cat_root):
        shutil.rmtree(root, ignore_errors=True)
    roots = (vt_root, mv_root, cat_root)

    vt = VersionedTable(spark, vt_root)
    mv = IncrementalAggView(
        spark,
        vt,
        mv_root,
        group_by=["event_type"],
        measures=[
            Measure("n", "count"),
            Measure("lo", "min", F.col("value")),
            Measure("hi", "max", F.col("value")),
            Measure("s", "sum", F.col("event_id")),
        ],
    )
    scan_filters = [("event_id", ">=", inp.scan_lo), ("event_id", "<", inp.scan_hi)]
    state: dict[str, int] = {}

    def read(path: str):
        return spark.read.parquet(path)

    def append_slice(i: int):
        def call():
            v = vt.write(read(inp.vt_slices[i]))
            if i == VT_SLICES - 1:
                state["v_appended"] = v

        return call

    vt_all = _parquet_list(inp.vt_slices)
    half = VT_SLICES // 2
    steps = [
        Step("catalog.create", "catalog.create", lambda: tm.create_from_yaml(spec_path)),
        Step("catalog.append", "catalog.append", lambda: tm.append(table, read(inp.cat_slice))),
        Step(
            "catalog.merge",
            "catalog.merge",
            lambda: tm.merge_upsert(table, read(inp.cat_merge), ["event_id"]),
        ),
        Step("catalog.delete", "catalog.delete", lambda: tm.delete_where(table, inp.delete_pred)),
        Step(
            "catalog.update",
            "catalog.update",
            lambda: tm.update_where(table, inp.update_pred, {"value": "value * 2"}),
        ),
    ]
    for i in range(VT_SLICES):
        steps.append(Step(f"versioning.append[{i}]", "versioning.append", append_slice(i)))
        if i in (half - 1, VT_SLICES - 1):
            steps.append(Step(f"matview.refresh[{i}]", "matview.refresh", mv.refresh))
    steps += [
        Step(
            "versioning.read",
            "versioning.read",
            lambda: vt.read(version=state["v_appended"]).select(*EVENT_COLS),
            sink="noop",
            expect=lambda: oracle.df(f"SELECT * FROM read_parquet({vt_all})"),
        ),
        Step(
            "versioning.scan",
            "versioning.scan",
            lambda: vt.scan(scan_filters, version=state["v_appended"]).select(*EVENT_COLS),
            sink="noop",
            expect=lambda: oracle.df(
                f"SELECT * FROM read_parquet({vt_all}) "
                f"WHERE event_id >= {inp.scan_lo} AND event_id < {inp.scan_hi}"
            ),
        ),
        Step(
            "versioning.merge",
            "versioning.merge",
            lambda: vt.merge(read(inp.vt_merge), ["event_id"]),
        ),
        Step(
            "versioning.delete",
            "versioning.delete",
            lambda: vt.delete_where_eq(inp.delete_pred, ["event_id"]),
        ),
        Step("versioning.compact_eq_deletes", "versioning.compact", vt.compact_eq_deletes),
        Step("versioning.compact", "versioning.compact", vt.compact),
        Step(
            "versioning.expire",
            "versioning.expire",
            lambda: vt.expire_snapshots(keep_last=2),
        ),
    ]

    def cat_expected() -> pd.DataFrame:
        return oracle.run(
            [
                f"CREATE OR REPLACE TEMP TABLE cat AS SELECT * FROM read_parquet('{inp.cat_slice}')",
                f"DELETE FROM cat WHERE event_id IN "
                f"(SELECT event_id FROM read_parquet('{inp.cat_merge}'))",
                f"INSERT INTO cat SELECT * FROM read_parquet('{inp.cat_merge}')",
                f"DELETE FROM cat WHERE {inp.delete_pred}",
                f"UPDATE cat SET value = value * 2 WHERE {inp.update_pred}",
                "SELECT * FROM cat",
            ]
        )

    def vt_expected() -> pd.DataFrame:
        return oracle.run(
            [
                f"CREATE OR REPLACE TEMP TABLE vt AS SELECT * FROM read_parquet({vt_all})",
                f"DELETE FROM vt WHERE event_id IN "
                f"(SELECT event_id FROM read_parquet('{inp.vt_merge}'))",
                f"INSERT INTO vt SELECT * FROM read_parquet('{inp.vt_merge}')",
                f"DELETE FROM vt WHERE {inp.delete_pred}",
                "SELECT * FROM vt",
            ]
        )

    def mv_expected() -> pd.DataFrame:
        return oracle.df(
            "SELECT event_type, COUNT(*) AS n, MIN(value) AS lo, MAX(value) AS hi, "
            f"CAST(SUM(event_id) AS BIGINT) AS s FROM read_parquet({vt_all}) "
            "GROUP BY event_type"
        )

    checks = [
        ("catalog table", lambda: tm.table(table).select(*EVENT_COLS), cat_expected),
        ("versioned table", lambda: vt.read().select(*EVENT_COLS), vt_expected),
        ("matview", lambda: mv.read().select("event_type", "n", "lo", "hi", "s"), mv_expected),
    ]
    unit = Unit("table_cycle", steps, checks)
    unit.user_bytes = sum(
        os.path.getsize(p) for p in [*inp.vt_slices, inp.vt_merge, inp.cat_slice, inp.cat_merge]
    )

    seen: set[str] = set()

    def account(step: Step) -> None:
        """Charge the data files that appeared during a step to its layer."""
        for root in roots:
            for path, size in _files(root).items():
                if path not in seen:
                    seen.add(path)
                    unit.bytes_by_layer[step.layer] = unit.bytes_by_layer.get(step.layer, 0) + size
        if step.layer == "versioning.scan":
            kept = vt.plan_files(scan_filters, state["v_appended"])
            total = vt.snapshot(state["v_appended"]).files
            unit.stats["versioning.scan_skip_frac"] = 1.0 - len(kept) / len(total)

    def finish() -> None:
        snap = vt.snapshot(vt.current_version())
        live = sum(
            os.path.getsize(urlparse(p).path)
            for p in [*snap.files, *(f for d in snap.eq_deletes for f in d["files"])]
        )
        unit.stats.update(
            {
                "versioning.files_live": float(len(snap.files)),
                "vt_root_bytes": float(_tree_bytes(vt_root)),
                "vt_live_bytes": float(live),
            }
        )

    unit.after_step = account
    unit.finish = finish
    return unit
