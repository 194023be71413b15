"""The two workloads, each driven through the package's public calls.

A workload makes its inputs, warms the session on a small input, runs
timed passes, checks every pass against an independent reference, and
runs one traced pass that yields the per-layer numbers.

* ``ingest`` (the write path): ``sinks.run_and_write`` with the
  default ``PipelineConfig`` on generated transcripts, into a fresh
  ``Warehouse`` per pass. Checked against a pandas + ``re`` reference.
* ``query`` (the read path): the flagship driver queries
  ``pipeline_errors_agg``, ``pipeline_routed_rows`` and
  ``rollup_multires`` on a generated ``events`` table, and the
  curation queries ``td_minhash_lsh_pairs``, ``dedup_exact`` and
  ``td_decontam`` on a generated ``documents`` table, every output
  collected. Checked against the DuckDB oracles.

Every pass reads its own byte-identical copy of the input under a new
path, so no pass can read blocks an earlier pass persisted.
"""

from __future__ import annotations

import contextlib
import hashlib
import json
import os
import re

import pandas as pd

import inputs
from sparkstats import AGG_NODES, JOIN_NODES, Harvest, StatusReader, python_udf_layers

# Input sizes. Set-up (session start plus warm-up) costs 20-35 s per
# run on a 4-core host and a run has about a minute in all, so passes
# are kept to a few seconds each.
INGEST_CONVS, INGEST_WARM_CONVS = 5_000, 1_000
QUERY_EVENTS, QUERY_WARM_EVENTS = 20_000, 5_000
CURATE_DOCS, CURATE_WARM_DOCS = 800, 300

GROUP_SETS = ("by_conv", "by_role", "by_tool", "by_window")


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def canonical_digest(pdf: pd.DataFrame) -> str:
    from tools.check_oracles import canonical

    canon = canonical(pdf.copy())
    h = hashlib.sha256(json.dumps(list(canon.columns)).encode())
    h.update(pd.util.hash_pandas_object(canon, index=False).values.tobytes())
    return h.hexdigest()


def frames_match(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None when equal under tools/check_oracles.py's rules, else why not."""
    from tools.check_oracles import canonical

    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != {sorted(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} != {len(want)}"
    try:
        pd.testing.assert_frame_equal(
            canonical(got.copy()), canonical(want.copy()),
            check_dtype=False, check_exact=False, rtol=1e-6,
        )
    except AssertionError as e:
        return f"value mismatch: {str(e)[:200]}"
    return None


class Workload:
    """Shared shape: inputs under ``work``, one copy per pass."""

    name = ""
    ops_per_pass = 0
    # measurement seconds one pass stands for: a run makes
    # ceil(--seconds / pass_s) passes
    pass_s = 1.0
    # per-layer metric prefixes of layers this workload never runs;
    # they read 0, and any other metric a traced run lacks is an error
    not_reached: tuple[str, ...] = ()

    def __init__(self, work: str, seed: int):
        self.work, self.seed = work, seed
        self.inputs: list[dict] = []

    def _input(self, table: str) -> str:
        return os.path.join(self.work, "inputs", "src", f"{table}.parquet")

    def _pass_dir(self, k: int) -> str:
        return os.path.join(self.work, "inputs", f"pass{k}")

    def prepare(self, k: int) -> str:
        raise NotImplementedError

    def trace_prefixes(self, spark, tracer, reader: StatusReader) -> dict:
        """Per-layer self times measured by materialising plan prefixes."""
        return {}


class Ingest(Workload):
    name = "ingest"
    ops_per_pass = 6  # three routed sinks and three aggregate sinks
    # a pass takes 3-5 s and keeps speeding up while the JVM compiles
    # (its CPU falls from about 15 s to 7 s over six passes); six
    # passes put the median past the steepest part of that
    pass_s = 5.0
    not_reached = ("query.", "rollup.", "curate.", "dedup.", "decontam.")

    def make_inputs(self) -> None:
        from opentelemetry_collector_spark import datagen

        self.pdf = datagen.make_transcripts_pdf(INGEST_CONVS, self.seed)
        self.inputs.append(inputs.write_table(
            self.pdf, self._input("transcripts"), "datagen.make_transcripts_pdf", self.seed,
        ))
        warm_seed = self.seed + 1_000_003
        self.inputs.append(inputs.write_table(
            datagen.make_transcripts_pdf(INGEST_WARM_CONVS, warm_seed),
            self._input("warm"), "datagen.make_transcripts_pdf", warm_seed,
        ))

    def prepare(self, k: int) -> str:
        return inputs.copy_for_pass(
            self._input("transcripts"), os.path.join(self._pass_dir(k), "transcripts.parquet")
        )

    def _write(self, spark, path: str, tag: str, warehouse_cls=None):
        from opentelemetry_collector_spark.sinks.warehouse import Warehouse, run_and_write

        wh = (warehouse_cls or Warehouse)(os.path.join(self.work, "warehouse", tag))
        return run_and_write(spark, spark.read.parquet(path), wh, run_id=tag), wh

    def warm(self, spark) -> None:
        self._write(spark, self._input("warm"), "warm")

    def run(self, spark, path: str, k: int, step):
        """The whole ``run_and_write`` call is one step: its six
        commits run concurrently."""
        with step():
            return self._write(spark, path, f"pass{k}")

    def expect(self) -> None:
        """Per-sink routed rows and per-group-set aggregate groups."""
        from opentelemetry_collector_spark.plans.pipeline import TRANSCRIPT_PATTERN

        pdf = self.pdf
        level = pdf["text"].str.extract(re.compile(TRANSCRIPT_PATTERN))["level"]
        routed = {
            "errors": pdf[level.isin(["warn", "error"])],
            "tool_calls": pdf[pdf["role"] == "tool"],
            "archive": pdf,
        }
        self.want = {}
        for sink, part in routed.items():
            window = part["ts"].astype("datetime64[us]").astype("int64") // 1_000_000 // 300
            self.want[sink] = {
                "rows": len(part),
                "groups": {
                    "by_conv": part["conv_id"].nunique(),
                    "by_role": part["role"].nunique(),
                    "by_tool": part["tool"].nunique(dropna=False),
                    "by_window": window.nunique(),
                },
            }

    def verify(self, out, k: int) -> list[str]:
        results, wh = out
        fails = []
        for sink, want in self.want.items():
            for name, expected in ((sink, want["rows"]), (f"{sink}_agg", sum(want["groups"].values()))):
                r = results.get(name)
                manifest = wh.committed(r.snapshot_id) if r else None
                if r is None or manifest is None:
                    why = "not committed"
                elif r.rows != expected:
                    why = f"{r.rows} rows, want {expected}"
                elif manifest["rows"] != manifest["observed_sent"]:
                    why = "manifest rows != observed_sent"
                elif name.endswith("_agg"):
                    why = self._check_groups(r.path, want)
                else:
                    why = None
                if why:
                    fails.append(f"{name}: {why}")
        return fails

    @staticmethod
    def _check_groups(path: str, want: dict) -> str | None:
        """Each group set's group count, and its ``n_turns`` summing to
        the sink's routed rows."""
        import pyarrow.parquet as pq

        agg = pq.read_table(path, columns=["group_set", "n_turns"]).to_pandas()
        got = agg.groupby("group_set")["n_turns"].agg(["size", "sum"])
        for gs in GROUP_SETS:
            if gs not in got.index:
                return f"no {gs} groups"
            if got.loc[gs, "size"] != want["groups"][gs]:
                return f"{gs}: {got.loc[gs, 'size']} groups, want {want['groups'][gs]}"
            if got.loc[gs, "sum"] != want["rows"]:
                return f"{gs}: n_turns sums to {got.loc[gs, 'sum']}, want {want['rows']}"
        return None

    def trace_prefixes(self, spark, tracer, reader) -> dict:
        """Materialise scan, parse, enrich, route and aggregate prefixes
        to noop; a layer's self time is its prefix time minus the
        previous prefix's. Route and aggregate read the persisted
        enriched frame, as ``run_pipeline`` does."""
        from pyspark import StorageLevel
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        from opentelemetry_collector_spark import datagen
        from opentelemetry_collector_spark.plans.pipeline import (
            PipelineConfig, aggregate_combined, enrich_stage, parse_stage, route_stage,
        )

        cfg = PipelineConfig()
        path = self.prepare("prefix")
        t = {}

        def prefix(name: str, frames: dict, parent) -> Harvest:
            mark = reader.mark()
            with tracer.span(f"prefix.{name}", parent) as s:
                for df in frames.values():
                    _noop(df)
            h = reader.since(mark)
            t[name] = s["end"] - s["start"]
            s["counts"].update(jobs=h.jobs, stages=h.stages, tasks=h.tasks)
            return h

        with tracer.span("prefixes") as root:
            src = spark.read.parquet(path)
            h_src = prefix("sources", {"": src}, root)
            parsed = parse_stage(src, cfg.pattern, engine=cfg.parse_engine)
            obs = Observation("parse_prefix")
            h_parse = prefix("parse", {"": parsed.observe(
                obs, F.count(F.lit(1)).alias("n"), F.sum(F.col("parsed").cast("long")).alias("ok"),
            )}, root)
            enriched = enrich_stage(
                parsed, datagen.role_lookup_df(spark), datagen.tool_lookup_df(spark),
                redact_sensitive=cfg.redact_sensitive,
            )
            prefix("enrich", {"": enriched}, root)
            cached = enriched.persist(getattr(StorageLevel, cfg.storage_level))
            prefix("persist", {"": cached}, root)
            persist_bytes = reader.cached_bytes()
            routed = route_stage(cached, cfg.routes)
            prefix("route", routed, root)
            prefix("aggregate", {s: aggregate_combined(df, cfg.window) for s, df in routed.items()}, root)
            cached.unpersist(blocking=True)
        got = obs.get
        return {
            # the real job evaluates the UDF inside the persisted frame,
            # whose operator metrics Spark reports as zero
            **python_udf_layers(h_parse),
            "sources.scan_s": h_src.op("Scan", "scan time"),
            "sources.rows_read": h_src.op("Scan", "number of output rows"),
            "sources.scan_tasks": h_src.scan_tasks,
            "parse.match_ratio": got["ok"] / got["n"],
            "pipeline.parse_s": t["parse"] - t["sources"],
            "pipeline.enrich_s": t["enrich"] - t["parse"],
            "pipeline.route_s": t["route"],
            "pipeline.aggregate_s": t["aggregate"] - t["route"],
            "pipeline.persist_bytes": persist_bytes,
        }

    def traced_pass(self, spark, path: str, tracer, reader, parent):
        from opentelemetry_collector_spark.sinks.warehouse import Warehouse

        class TracedWarehouse(Warehouse):
            def write_sink(self, sink, df, run_id, *args, **kw):
                with tracer.span("sinks.write", parent, sink=sink) as s:
                    r = super().write_sink(sink, df, run_id, *args, **kw)
                    s["counts"].update(rows=r.rows, files=len(r.lineage), skipped=r.skipped)
                return r

        mark = reader.mark()
        out = self._write(spark, path, "traced", TracedWarehouse)
        h = reader.since(mark)
        results, _ = out
        writes = [s for s in tracer.spans if s["name"] == "sinks.write"]
        spans = [s["end"] - s["start"] for s in writes]
        fanout_wall = max(s["end"] for s in writes) - min(s["start"] for s in writes)
        written = sum(
            os.path.getsize(os.path.join(d, f))
            for r in results.values() for d, _, fs in os.walk(r.path) for f in fs
        )
        n_in = self.want["archive"]["rows"]
        layers = {
            "pipeline.shuffle_write_bytes": h.shuffle_write_bytes,
            "pipeline.fanout_ratio": sum(results[s].rows for s in self.want) / n_in,
            "sinks.write_s": sum(spans),
            "sinks.write_max_s": max(spans),
            "sinks.overlap": sum(spans) / fanout_wall,
            "sinks.commits": sum(not r.skipped for r in results.values()),
            "sinks.files_written": sum(len(r.lineage) for r in results.values()),
            "sinks.bytes_written": written,
            "sinks.spark_write_s": sum(
                v for (cls, m), v in h.ops.items()
                if cls.startswith("Execute ") and m in ("task commit time", "job commit time")
            ),
        }
        return out, h, layers


class Query(Workload):
    """The read path: the flagship driver queries and the training-data
    curation queries over generated ``events`` and ``documents``
    tables, every output collected to the driver."""

    name = "query"
    # two passes of 9-15 s; set-up, a cold pass on small tables,
    # already costs 30 s
    pass_s = 15.0
    # the flagship queries parse, enrich, route and aggregate, but the
    # pipeline.* split is measured on ingest's stage functions only
    not_reached = ("sinks.", "pipeline.")
    tables = {
        "events": (inputs.make_events_pdf, QUERY_EVENTS, QUERY_WARM_EVENTS),
        "documents": (inputs.make_documents_pdf, CURATE_DOCS, CURATE_WARM_DOCS),
    }
    # query name -> the span (and per-layer metric) that times it
    span_names = {
        "pipeline_errors_agg": "query.pipeline_errors_agg_s",
        "pipeline_routed_rows": "query.pipeline_routed_rows_s",
        "rollup_multires": "query.rollup_multires_s",
        "td_minhash_lsh_pairs": "curate.minhash_s",
        "dedup_exact": "curate.exact_dedup_s",
        "td_decontam": "curate.decontam_s",
    }
    ops_per_pass = len(span_names)

    def make_inputs(self) -> None:
        warm_seed = self.seed + 1_000_003
        for table, (make, rows, warm_rows) in self.tables.items():
            gen = f"perfbench.inputs.{make.__name__}"
            self.inputs.append(inputs.write_table(
                make(rows, self.seed), self._input(table), gen, self.seed,
            ))
            self.inputs.append(inputs.write_table(
                make(warm_rows, warm_seed),
                os.path.join(self.work, "inputs", "warm", f"{table}.parquet"), gen, warm_seed,
            ))
        self.checked: dict[str, str] = {}

    def prepare(self, k) -> str:
        for table in self.tables:
            inputs.copy_for_pass(
                self._input(table), os.path.join(self._pass_dir(k), f"{table}.parquet")
            )
        return self._pass_dir(k)

    def _queries(self):
        from opentelemetry_collector_spark.plans.entry_queries import QUERIES

        return {n: QUERIES[n] for n in self.span_names}

    def warm(self, spark) -> None:
        self.run(spark, os.path.join(self.work, "inputs", "warm"), "warm", contextlib.nullcontext)

    def run(self, spark, sf_dir: str, k, step) -> dict[str, pd.DataFrame]:
        """Each query is one step."""
        out = {}
        for n, q in self._queries().items():
            with step():
                out[n] = q(spark, sf_dir).toPandas()
        return out

    def expect(self) -> None:
        """DuckDB oracle rows for every query, computed once per seed."""
        import duckdb

        from opentelemetry_collector_spark.plans.entry_queries import ORACLES

        con = duckdb.connect(config={"temp_directory": os.path.join(self.work, "duckdb")})
        try:
            for table in self.tables:
                con.execute(
                    f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{self._input(table)}')"
                )
            self.want = {n: con.execute(ORACLES[n]).df() for n in self.span_names}
        finally:
            con.close()

    def verify(self, out: dict[str, pd.DataFrame], k) -> list[str]:
        """The first pass is checked against the oracle; every later
        pass must reproduce that checked result's digest."""
        fails = []
        for n in self.span_names:
            digest = canonical_digest(out[n])
            if n not in self.checked:
                why = frames_match(out[n], self.want[n])
                if why:
                    fails.append(f"{n}: {why}")
                    continue
                self.checked[n] = digest
            elif digest != self.checked[n]:
                fails.append(f"{n}: digest differs from the checked pass")
        return fails

    def trace_prefixes(self, spark, tracer, reader) -> dict:
        """``parse.match_ratio``: the flagship queries' parse of the
        transcripts derived from ``events``, run once on its own with
        an Observation of parsed and attempted rows."""
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        from opentelemetry_collector_spark.plans.pipeline import TRANSCRIPT_PATTERN, parse_stage
        from opentelemetry_collector_spark.plans.shared_sql import _derive_transcripts

        obs = Observation("parse_match")
        parsed = parse_stage(
            _derive_transcripts(spark, self.prepare("prefix")), TRANSCRIPT_PATTERN, engine="arrow"
        )
        with tracer.span("prefix.parse"):
            _noop(parsed.observe(
                obs, F.count(F.lit(1)).alias("n"), F.sum(F.col("parsed").cast("long")).alias("ok"),
            ))
        return {"parse.match_ratio": obs.get["ok"] / obs.get["n"]}

    def traced_pass(self, spark, sf_dir: str, tracer, reader, parent):
        per: dict[str, Harvest] = {}
        out = {}
        for n, q in self._queries().items():
            mark = reader.mark()
            with tracer.span(self.span_names[n], parent) as s:
                out[n] = q(spark, sf_dir).toPandas()
            per[n] = h = reader.since(mark)
            s["counts"].update(
                rows=len(out[n]), eval_nodes=h.eval_nodes_max, jobs=h.jobs,
                stages=h.stages, tasks=h.tasks,
            )
        total = Harvest()
        for h in per.values():
            total += h
        rollup, minhash, exact, decontam = (
            per[n] for n in ("rollup_multires", "td_minhash_lsh_pairs", "dedup_exact", "td_decontam")
        )
        joined = minhash.op(JOIN_NODES, "number of output rows")
        pairs = len(out["td_minhash_lsh_pairs"])
        layers = {
            "sources.scan_s": total.op("Scan", "scan time"),
            "sources.rows_read": total.op("Scan", "number of output rows"),
            "sources.scan_tasks": total.scan_tasks,
            **{name: tracer.duration(name) for name in self.span_names.values()},
            "rollup.agg_build_s": rollup.op(AGG_NODES, "time in aggregation build"),
            "rollup.shuffle_write_bytes": rollup.shuffle_write_bytes,
            "rollup.spill_bytes": rollup.spill_bytes,
            "dedup.join_output_rows": joined,
            "dedup.pairs_out": pairs,
            "dedup.pair_yield": pairs / joined if joined else 0.0,
            "dedup.shuffle_write_bytes": minhash.shuffle_write_bytes + exact.shuffle_write_bytes,
            "dedup.spill_bytes": minhash.spill_bytes + exact.spill_bytes,
            "decontam.broadcast_bytes": decontam.op("BroadcastExchange", "data size"),
        }
        return out, total, layers


WORKLOADS = {w.name: w for w in (Ingest, Query)}
