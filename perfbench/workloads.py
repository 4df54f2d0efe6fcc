"""The benchmark's workloads: seeded inputs, the timed user job, the full
output check, and the traced per-layer probes.

A probe is one call into a package module's public functions followed by an
aggregate over every column it returns, run as its own span. A layer's self
time is its probe's time minus the time of the probe it builds on (strip
minus decode, job minus strip, ...), so it can come out slightly negative
when a layer is cheap against run-to-run noise.
"""

from __future__ import annotations

import os

import check
import gen


def _touch(f) -> str:
    """An aggregate that reads every value of column ``f``: ``count`` of a
    flat column, the sum of a hash over a nested one (over its keys and
    values for a map, which ``hash`` does not take)."""
    from pyspark.sql import types as T

    c = f"`{f.name}`"
    if isinstance(f.dataType, T.MapType):
        return f"sum(hash(map_keys({c}), map_values({c})))"
    if isinstance(f.dataType, (T.StructType, T.ArrayType)):
        return f"sum(hash({c}))"
    return f"count({c})"


def _counts(df, exprs: dict[str, str]) -> dict[str, int]:
    """One aggregate over ``df``: every named SQL sum plus a ``_touch`` of
    every column, so no column or nested field is pruned from the scan."""
    cols = [f"sum({e}) AS `{k}`" for k, e in exprs.items()]
    cols += [f"{_touch(f)} AS `_n_{i}`"
             for i, f in enumerate(df.schema.fields)]
    row = df.selectExpr(*cols).collect()[0]
    return {k: int(row[k] or 0) for k in exprs}


class Workload:
    """One benchmark workload; ``run.py`` drives these methods."""

    name = ""
    #: untimed (but checked) jobs between the first job and the timed ones.
    #: The JVM's JIT keeps compiling for several jobs and the job time falls
    #: with it; a count, not a time, so that the timed jobs start at the
    #: same point of that curve on a fast and on a slow machine
    warmup_jobs = 1

    def generate(self, rng, in_dir: str) -> dict:
        raise NotImplementedError

    def expect(self, manifest: dict) -> dict:
        """Expected-output entries to add to ``manifest`` that take long to
        compute; ``run.py`` builds them while the warm-up jobs run."""
        return {}

    def input_rows(self, manifest: dict) -> int:
        """What ``rows_per_s`` counts: input cells or documents."""
        raise NotImplementedError

    def run_job(self, spark, in_dir: str, out_dir: str, manifest: dict):
        """The timed user job; raises on failure."""
        raise NotImplementedError

    def check(self, spark, out_dir: str, manifest: dict) -> list[str]:
        raise NotImplementedError

    def probes(self, spark, tracer, in_dir: str, manifest: dict) -> dict:
        """Run the layer probes once; returns span durations, CPU and
        counts keyed by probe name."""
        raise NotImplementedError

    def layer_metrics(self, probes: dict, job: dict, manifest: dict) -> dict:
        """Per-layer metrics of one round of probes plus the traced job
        (whose record carries ``out_bytes`` and ``out_files``)."""
        raise NotImplementedError


def _cli(argv: list[str]) -> None:
    from cassandra_ttl_remover_spark import cli

    rc = cli.main(argv)
    if rc != 0:
        raise RuntimeError(f"cli exited with {rc}")


def _timed(tracer, name: str, fn) -> dict:
    """Run ``fn`` (which returns its counts) as the span ``name``."""
    with tracer.span(name) as rec:
        rec["counts"] = fn()
    return rec


class RewriteNarrow(Workload):
    """SSTable -> SSTable through the CLI's default ``reshard`` mode: about
    70% expiring cells in many small v1 partitions over several tables."""

    name = "rewrite_narrow"
    warmup_jobs = 2  # the job time is flat from the third job on

    def generate(self, rng, in_dir):
        return gen.sstable_corpus(rng, in_dir, cells=60_000, tables=2)

    def input_rows(self, manifest):
        return manifest["cells"]

    def run_job(self, spark, in_dir, out_dir, manifest):
        _cli(["--input", in_dir, "--output-path", out_dir,
              "--input-format", "sstable", "--output-format", "sstable"])

    def check(self, spark, out_dir, manifest):
        return check.sstable_output(spark, out_dir, manifest["expected"])

    def probes(self, spark, tracer, in_dir, manifest):
        from cassandra_ttl_remover_spark.sources.sstable import (
            scan_sstable,
            strip_ttl_cells,
        )

        decode = _timed(tracer, "sources.sstable.decode", lambda: _counts(
            scan_sstable(spark, in_dir),
            {"cells": "1", "expiring": "int(kind = 'expiring')"}))
        strip = _timed(tracer, "sources.sstable.strip", lambda: _counts(
            strip_ttl_cells(scan_sstable(spark, in_dir)),
            {"tombstones": "int(kind IN ('tombstone', 'range_tombstone', "
                           "'partition_tombstone'))",
             "expiring_left": "int(kind = 'expiring')"}))
        return {"decode": decode, "strip": strip}

    def layer_metrics(self, probes, job, manifest):
        decode, strip = probes["decode"], probes["strip"]
        return {
            "sources.sstable.decode_s": decode["dur"],
            "sources.sstable.python_cpu_s": decode["python_cpu_s"],
            "sources.sstable.cells_decoded": decode["counts"]["cells"],
            "sources.sstable.bytes_read": decode["python_read_bytes"],
            "sources.sstable.tasks": decode["spark"]["tasks"],
            "sources.sstable.strip_self_s": strip["dur"] - decode["dur"],
            "sources.sstable.expiring_converted":
                decode["counts"]["expiring"]
                - strip["counts"]["expiring_left"],
            "sources.sstable.tombstones_kept": strip["counts"]["tombstones"],
            "sources.sstable.encode_self_s": job["dur"] - strip["dur"],
            "sources.sstable.encode_python_cpu_s":
                job["python_cpu_s"] - strip["python_cpu_s"],
            "sources.sstable.bytes_written": job.get("out_bytes", 0),
            "sources.sstable.files_written": job.get("out_files", 0),
        }


#: SQL sums over a cell-struct table: cells (scalar, list, map) and row
#: liveness entries that carry a ttl, and cell and row tombstones
_CELLS_WITH_TTL = (
    "int(name.ttl IS NOT NULL) + int(score.ttl IS NOT NULL)"
    " + size(filter(tags, c -> c.ttl IS NOT NULL))"
    " + size(filter(map_values(props), c -> c.ttl IS NOT NULL))"
    " + int(pk_ttl IS NOT NULL)")
_CELL_TOMBSTONES = (
    "int(name.deleted_ts IS NOT NULL) + int(score.deleted_ts IS NOT NULL)"
    " + size(filter(tags, c -> c.deleted_ts IS NOT NULL))"
    " + size(filter(map_values(props), c -> c.deleted_ts IS NOT NULL))"
    " + int(row_deletion_ts IS NOT NULL)")


class ParquetCells(Workload):
    """Cell-struct parquet through the CLI (``--format-version 3 --cql``):
    JVM scan, the nested ``transform`` strip of ``operators.liveness`` and
    ``sinks.writer.write_sorted``, with no Python codec."""

    name = "parquet_cells"
    warmup_jobs = 5  # the job time is flat from the sixth job on

    def generate(self, rng, in_dir):
        expected_path = os.path.join(os.path.dirname(in_dir),
                                     "expected-cells.parquet")
        manifest = gen.cell_table(rng, in_dir, expected_path, rows=50_000)
        manifest["expected"] = check.cell_table_digest([expected_path])
        return manifest

    def input_rows(self, manifest):
        return manifest["cells"]

    def run_job(self, spark, in_dir, out_dir, manifest):
        _cli(["--format-version", "3", "--input", in_dir,
              "--output-path", out_dir, "--cql", gen.CELLS_CQL])

    def check(self, spark, out_dir, manifest):
        return check.parquet_cells_output(out_dir, manifest["expected"])

    def probes(self, spark, tracer, in_dir, manifest):
        from cassandra_ttl_remover_spark.operators.liveness import (
            strip_ttl_cells,
        )
        from cassandra_ttl_remover_spark.sources.scan import scan

        scanned = _timed(tracer, "sources.scan.scan", lambda: _counts(
            scan(spark, in_dir), {"with_ttl": _CELLS_WITH_TTL}))
        strip = _timed(tracer, "operators.liveness.strip", lambda: _counts(
            strip_ttl_cells(scan(spark, in_dir)),
            {"with_ttl": _CELLS_WITH_TTL, "tombstones": _CELL_TOMBSTONES}))
        return {"scan": scanned, "strip": strip}

    def layer_metrics(self, probes, job, manifest):
        scanned, strip = probes["scan"], probes["strip"]
        return {
            "sources.scan.scan_s": scanned["dur"],
            "operators.liveness.strip_self_s": strip["dur"] - scanned["dur"],
            "operators.liveness.expiring_converted":
                scanned["counts"]["with_ttl"] - strip["counts"]["with_ttl"],
            "operators.liveness.tombstones_kept":
                strip["counts"]["tombstones"],
            "sinks.writer.write_self_s": job["dur"] - strip["dur"],
            "sinks.writer.bytes_written": job.get("out_bytes", 0),
            "sinks.writer.files_written": job.get("out_files", 0),
        }


class CurateCorpus(Workload):
    """A curation pipeline: ``sources.scan.scan`` -> ``operators.curate.
    curate_corpus`` (exact path) -> ``sinks.writer.write_sorted`` on doc_id,
    over documents with set shares of exact and near duplicates. The kept
    set must equal ``curate_corpus_oracle_sql`` run in DuckDB."""

    name = "curate_corpus"
    #: about 20 Spark jobs of planning per job: its time keeps falling for
    #: 20 jobs and more, about 5% a job at the fourth job and 2-3% a job
    #: from the sixth
    warmup_jobs = 5

    def generate(self, rng, in_dir):
        return gen.documents(rng, in_dir, docs=2_000)

    def expect(self, manifest):
        return {"oracle": _oracle_rows(manifest["path"])}

    def input_rows(self, manifest):
        return manifest["docs"]

    def run_job(self, spark, in_dir, out_dir, manifest):
        from cassandra_ttl_remover_spark.operators.curate import curate_corpus
        from cassandra_ttl_remover_spark.sinks.writer import write_sorted
        from cassandra_ttl_remover_spark.sources.scan import scan

        write_sorted(curate_corpus(spark, scan(spark, in_dir)), out_dir,
                     pk="doc_id")

    def check(self, spark, out_dir, manifest):
        import pyarrow.parquet as pq

        t = pq.read_table(out_dir)
        rows = list(zip(*(t.column(c).to_pylist()
                          for c in ("doc_id", "pred_lang", "quality"))))
        return check.curate_output(rows, manifest["oracle"])

    def probes(self, spark, tracer, in_dir, manifest):
        from cassandra_ttl_remover_spark.operators import curate, dedup, text
        from cassandra_ttl_remover_spark.sources.scan import scan

        def docs():
            return scan(spark, in_dir)

        def gates():
            scored = text.lang_id(
                spark, text.quality_score(docs(), keep_cols=["text"]),
                keep_cols=["text", "quality"])
            return _counts(scored, {
                "passed": "int(quality >= 0.5 AND pred_lang = 'en')"})

        def keep1():
            return curate.gated_exact_dedup(spark, docs())

        def pairs_of(k):
            return dedup.ngram_jaccard_pairs(k, 0.5, "text", "doc_id",
                                             max_df=1000).select("a", "b")

        def components():
            k = keep1()
            dec = dedup.neardup_dedup(k.select("doc_id"), pairs_of(k))
            return _counts(dec, {"kept": "int(is_kept)"})

        return {
            "scan": _timed(tracer, "sources.scan.scan", lambda: _counts(
                docs(), {"docs": "1"})),
            "gates": _timed(tracer, "operators.text.quality", gates),
            "gated": _timed(tracer, "operators.curate.gated_exact_dedup",
                            lambda: _counts(keep1(), {"docs": "1"})),
            "pairs": _timed(tracer, "operators.dedup.pairs", lambda: _counts(
                pairs_of(keep1()), {"pairs": "1"})),
            "components": _timed(tracer, "operators.dedup.components",
                                 components),
        }

    def layer_metrics(self, probes, job, manifest):
        sc, g, e = probes["scan"], probes["gates"], probes["gated"]
        p, c = probes["pairs"], probes["components"]
        kept = c["counts"]["kept"]
        return {
            "sources.scan.scan_s": sc["dur"],
            "operators.text.quality_s": g["dur"] - sc["dur"],
            "operators.curate.gate_dedup_self_s": e["dur"] - g["dur"],
            "operators.dedup.pairs_self_s": p["dur"] - e["dur"],
            "operators.dedup.components_self_s": c["dur"] - p["dur"],
            "sinks.writer.write_self_s": job["dur"] - c["dur"],
            "sinks.writer.bytes_written": job.get("out_bytes", 0),
            "sinks.writer.files_written": job.get("out_files", 0),
            "operators.curate.docs_after_gates": g["counts"]["passed"],
            "operators.curate.docs_after_exact": e["counts"]["docs"],
            "operators.curate.docs_kept": kept,
            "operators.curate.kept_ratio": kept / manifest["docs"],
            "operators.dedup.pairs": p["counts"]["pairs"],
        }


def _oracle_rows(path: str) -> list[tuple]:
    """``curate_corpus_oracle_sql`` run in DuckDB over ``path``. Each of its
    CTEs gets a MATERIALIZED hint, which leaves the result unchanged: DuckDB
    1.0 otherwise inlines them and re-evaluates every stage on each step of
    the recursive component search (47 s instead of 3 s at 1000 docs)."""
    import re

    import duckdb

    from cassandra_ttl_remover_spark.operators.curate import (
        curate_corpus_oracle_sql,
    )

    sql = re.sub(r"^(\w+) AS \(", r"\1 AS MATERIALIZED (",
                 curate_corpus_oracle_sql(), flags=re.M)
    con = duckdb.connect()
    try:
        quoted = path.replace("'", "''")
        con.execute("CREATE TABLE documents AS SELECT * FROM "
                    f"read_parquet('{quoted}')")
        return [tuple(r) for r in con.sql(sql).fetchall()]
    finally:
        con.close()


WORKLOADS = {w.name: w for w in (RewriteNarrow(), ParquetCells(),
                                  CurateCorpus())}
