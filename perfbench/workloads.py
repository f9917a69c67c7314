"""The benchmark workloads.

Each workload builds its inputs from the seed (untimed), opens its table in
every timed set-up repetition, warms up (untimed), then yields cycles of
operations for one closed-loop client; a run measures whole cycles. An
operation checks its own answer and raises :class:`WrongAnswer` when it
differs from the one computed independently in :mod:`inputs`.

Operations call the library through module attributes (``api.read_...``)
so that the traced run's wrappers see them.
"""

from __future__ import annotations

import itertools
import os
import shutil
import statistics
from contextlib import ExitStack, contextmanager
from dataclasses import dataclass
from typing import Callable, Iterator

import inputs


class WrongAnswer(AssertionError):
    pass


def check(ok: bool, what: str) -> None:
    if not ok:
        raise WrongAnswer(what)


class OpContext:
    """What one operation needs: the session and, in a traced operation,
    the tracer, the counting file system and the job-group tagger."""

    def __init__(self, spark, op: int, tracer=None, fs=None, groups=None):
        self.spark, self.op, self.tracer, self.fs, self.groups = spark, op, tracer, fs, groups

    def fs_kw(self) -> dict:
        return {} if self.fs is None else {"fs": self.fs}

    def count(self, name: str, n=1) -> None:
        if self.tracer is not None:
            self.tracer.count(name, n)

    @contextmanager
    def phase(self, name: str, span: str | None = None):
        """A step of the operation: a job group (``name``) and, optionally,
        a span — both only when the operation is traced."""
        if self.tracer is None:
            yield
            return
        with ExitStack() as stack:
            stack.enter_context(self.groups.group(self.spark, self.op, name))
            if span:
                stack.enter_context(self.tracer.span(span))
            yield


@dataclass
class Op:
    kind: str
    run: Callable[[OpContext], int]  # returns rows processed; raises on a wrong answer


def _fresh_dir(work: str, name: str) -> str:
    path = os.path.join(work, name)
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


# --------------------------------------------------------------------------


class ScanQuery:
    """Seeded ``read_partitioned_table`` calls, each followed by a small
    aggregate, over a Hive y/m/d tree (1,095 day partitions) and a
    value-only tree read through ``FixedColumnsParser``."""

    name = "scan_query"
    cores = 4

    def __init__(self, seed: int, work: str):
        self.seed, self.work = seed, work

    def generate(self) -> None:
        self.orders = inputs.make_orders(self.seed)
        self.base = os.path.join(self.work, "src")
        self.files = dict(zip(
            ("hive", "fixed"),
            inputs.write_orders_trees(self.orders, f"{self.base}/hive", f"{self.base}/fixed"),
        ))

    def open(self, spark, rep: int) -> None:
        """Move both trees to a fresh path, so path-keyed caches start
        cold, and run one query over the Hive tree."""
        base = _fresh_dir(self.work, f"rep{rep}")
        for tree in ("hive", "fixed"):
            os.rename(os.path.join(self.base, tree), os.path.join(base, tree))
        self.base = base
        for spec in self._warm_specs(("date_range",)):
            self._op(spec).run(OpContext(spark, -1))

    def warm_up(self, spark) -> None:
        for spec in self._warm_specs(("fixed_cols", "eq_in", "lex_range", "atomic", "date_gen")):
            self._op(spec).run(OpContext(spark, -1))

    def _warm_specs(self, kinds):
        specs = inputs.query_stream(self.seed + 1_000_003, len(inputs.QUERY_CYCLE))
        return [next(s for s in specs if s.kind == k) for k in kinds]

    def cycles(self) -> Iterator[list[Op]]:
        """Whole query cycles, so every run measures the same class mix."""
        specs = inputs.iter_queries(self.seed)
        while True:
            yield [self._op(spec) for spec in itertools.islice(specs, len(inputs.QUERY_CYCLE))]

    def _query(self, spec):
        """(query, tree, extra read_partitioned_table kwargs) for ``spec``."""
        import fsql_spark as fq

        if spec.kind in ("date_range", "date_gen"):
            kw = {}
            if spec.kind == "date_gen":
                kw["column_parser"] = fq.DateRangeGenerator.build(spec.start, spec.end)
            return fq.DateRangeQuery(spec.start, spec.end), "hive", kw
        if spec.kind == "lex_range":
            m = spec.months[0]
            num = fq.ColumnComparator.num
            return fq.LexRangeQuery([
                fq.ColumnRange("year", str(spec.year), str(spec.year), num),
                fq.ColumnRange("month", str(m), str(m + 2), num),
                fq.ColumnRange("day", "1", "1", num),
            ]), "hive", {}
        months = [str(m) for m in spec.months]
        if spec.kind == "atomic":
            wanted = {(str(spec.year), m) for m in months}
            return fq.AtomicQuery(lambda year, month: (year, month) in wanted), "hive", {}
        q = fq.Q_AND(fq.Q_EQ("year", str(spec.year)), fq.Q_IN("month", months))
        if spec.kind == "fixed_cols":
            q = fq.Q_AND(q, fq.Q_IN("fname", [f"{p}.parquet" for p in spec.priorities]))
            return q, "fixed", {"column_parser": fq.FixedColumnsParser.from_str("year/month/fname")}
        return q, "hive", {}

    def _op(self, spec) -> Op:
        from fsql_spark import api
        from pyspark.sql import functions as F

        want = inputs.expected_answer(self.orders, spec)

        def run(ctx: OpContext) -> int:
            q, tree, kw = self._query(spec)
            with ctx.phase("plan"):
                df = api.read_partitioned_table(os.path.join(self.base, tree), q, **kw, **ctx.fs_kw())
            with ctx.phase("action", span="spark.action"):
                row = df.agg(
                    F.count(F.lit(1)),
                    F.sum("o_orderkey"),
                    F.sum(F.round(F.col("o_totalprice") * 100).cast("long")),
                ).collect()[0]
            got = (int(row[0]), int(row[1] or 0), int(row[2] or 0))
            check(got == want, f"{spec}: got {got}, want {want}")
            if ctx.tracer is not None:
                ctx.count("readers.files_out", len(df.inputFiles()))
                if ctx.tracer.counts[(ctx.op, "discovery.calls")]:
                    ctx.count("discovery.tree_files", self.files[tree])
                    if spec.fast_path:
                        ctx.count("api.fast_path_fallbacks")
            return got[0]

        return Op(spec.kind, run)

    def summary(self, records) -> dict:
        fast = [r.latency for r in records if r.kind in inputs.FAST_PATH_CLASSES]
        driver = [r.latency for r in records if r.kind not in inputs.FAST_PATH_CLASSES]
        return {
            "query_fast_p50_s": statistics.median(fast) if fast else 0.0,
            "query_driver_p50_s": statistics.median(driver) if driver else 0.0,
        }


# --------------------------------------------------------------------------


class CorpusDedup:
    """The corpus pipeline: documents with planted duplicates arrive as
    ``write_table(mode="append")`` batches into a fresh lang-partitioned
    table; the table is read back, compacted with ``maintenance.compact``
    and read back again, then one pass runs ``build_corpus`` and
    ``minhash_lsh_pairs`` over the compacted table."""

    name = "corpus_dedup"
    # two task slots on a four-CPU machine: a task and its pandas-UDF
    # worker each take a CPU, so four slots would oversubscribe it
    cores = 2
    threshold = 0.8
    # seven appends in an eleven-op cycle: the median operation falls
    # inside the cluster of appends, not on its edge
    batches_per_cycle = 7

    def __init__(self, seed: int, work: str):
        self.seed, self.work = seed, work

    def generate(self) -> None:
        self.corpus = inputs.make_corpus(self.seed)
        self.tree = os.path.join(self.work, "src", "corpus")
        inputs.write_corpus_tree(self.corpus.docs, self.tree)
        self.batches = inputs.split_batches(self.corpus.docs, self.batches_per_cycle)
        self.digest = inputs.expected_corpus_digest(self.corpus.docs)
        self.input_bytes = inputs.arrow_bytes(self.batches)
        self.cycle_stats: list[dict] = []

    def open(self, spark, rep: int) -> None:
        """Move the source table to a fresh path and read it back."""
        tree = os.path.join(_fresh_dir(self.work, f"rep{rep}"), "corpus")
        os.rename(self.tree, tree)
        self.tree = tree
        self._readback(tree, "readback").run(OpContext(spark, -1))

    def warm_up(self, spark) -> None:
        """One untimed cycle; its statistics are not kept."""
        root = os.path.join(_fresh_dir(self.work, "warm"), "corpus")
        for op in self._cycle_ops(root, {}):
            op.run(OpContext(spark, -1))
        shutil.rmtree(os.path.join(self.work, "warm"), ignore_errors=True)

    def cycles(self) -> Iterator[list[Op]]:
        for cycle in itertools.count():
            root = os.path.join(_fresh_dir(self.work, f"cycle{cycle}"), "corpus")
            shutil.rmtree(os.path.join(self.work, f"cycle{cycle - 1}"), ignore_errors=True)
            stats = {"input_bytes": self.input_bytes}
            self.cycle_stats.append(stats)
            yield self._cycle_ops(root, stats)

    def _cycle_ops(self, root: str, stats: dict) -> list[Op]:
        return [
            *(self._append(b, root) for b in self.batches),
            self._readback(root, "readback", stats),
            self._compact(root),
            self._readback(root, "readback_compacted", stats),
            self._pass(root),
        ]

    def _append(self, batch, root: str) -> Op:
        from fsql_spark import api

        def run(ctx: OpContext) -> int:
            # one task per batch: a batch lands as one file per language
            df = ctx.spark.createDataFrame(batch).coalesce(1)
            with ctx.phase("write"):
                api.write_table(df, root, mode="append", partition_by=["lang"], **ctx.fs_kw())
            return len(batch)

        return Op("append", run)

    def _readback(self, root: str, kind: str, stats: dict | None = None) -> Op:
        import fsql_spark as fq
        from fsql_spark import api
        from pyspark.sql import functions as F

        def run(ctx: OpContext) -> int:
            with ctx.phase("plan"):
                df = api.read_partitioned_table(root, fq.Q_TRUE, **ctx.fs_kw())
            with ctx.phase("action", span="spark.action"):
                rows = df.groupBy("lang").agg(
                    F.count(F.lit(1)), F.sum("doc_id"), F.sum("n_chars"), F.sum(F.length("text")),
                ).collect()
            got = {r[0]: (int(r[1]), int(r[2]), int(r[3]), int(r[4])) for r in rows}
            check(got == self.digest, f"{kind} of {root}: per-lang digest differs")
            if stats is not None:
                files = inputs.data_files(root)
                stats["files_after" if kind == "readback_compacted" else "files_before"] = len(files)
                if kind == "readback_compacted":
                    stats["bytes"] = sum(os.path.getsize(f) for f in files)
                    check(len(files) == len(self.digest),
                          f"compaction left {len(files)} files for {len(self.digest)} partitions")
            if ctx.tracer is not None:
                ctx.count("readers.files_out", len(df.inputFiles()))
            return len(self.corpus.docs)

        return Op(kind, run)

    def _compact(self, root: str) -> Op:
        from fsql_spark import maintenance

        def run(ctx: OpContext) -> int:
            with ctx.phase("compact"):
                maintenance.compact(ctx.spark, root, partition_by=["lang"], **ctx.fs_kw())
            return len(self.corpus.docs)

        return Op("compact", run)

    def _pass(self, root: str) -> Op:
        import fsql_spark as fq
        from fsql_spark import api
        from fsql_spark.operators import dedup, pipeline
        from pyspark.sql import functions as F

        c = self.corpus

        def run(ctx: OpContext) -> int:
            with ctx.phase("plan"):
                docs = api.read_partitioned_table(root, fq.Q_TRUE, **ctx.fs_kw())
            with ctx.phase("build_corpus", span="spark.build_corpus"):
                rows = (
                    pipeline.build_corpus(docs)
                    .groupBy("split")
                    .agg(F.count(F.lit(1)).alias("n"), F.sum("n_chars").alias("c"))
                    .collect()
                )
            with ctx.phase("signatures", span="spark.signatures"):
                pairs_df = dedup.minhash_lsh_pairs(docs, "doc_id", "text", threshold=self.threshold)
            with ctx.phase("lsh_pairs", span="spark.lsh_pairs"):
                pairs = {(int(r[0]), int(r[1])) for r in pairs_df.select("doc_a", "doc_b").collect()}
            splits = {r["split"]: (int(r["n"]), int(r["c"])) for r in rows}
            check(splits == c.split_counts, f"build_corpus splits: got {splits}, want {c.split_counts}")
            found = len(pairs & c.planted_pairs)
            ctx.count("dedup.pairs_out", len(pairs))
            ctx.count("dedup.exact_removed", len(c.docs) - inputs.CORPUS_BAD - sum(n for n, _ in splits.values()))
            ctx.count("dedup.planted_found", found)
            ctx.count("dedup.planted", len(c.planted_pairs))
            check(not pairs - c.planted_pairs, f"{len(pairs - c.planted_pairs)} unplanted pairs")
            check(found >= 0.99 * len(c.planted_pairs), f"planted-pair recall {found}/{len(c.planted_pairs)}")
            return len(c.docs)

        return Op("pass", run)

    def summary(self, records) -> dict:
        def med(kind):
            vals = [r.latency for r in records if r.kind == kind]
            return statistics.median(vals) if vals else 0.0

        done = [s for s in self.cycle_stats if "bytes" in s]
        return {
            "readback_s": med("readback"),
            "compact_s": med("compact"),
            "readback_compacted_s": med("readback_compacted"),
            "bytes_per_input_byte": statistics.median(s["bytes"] / s["input_bytes"] for s in done) if done else 0.0,
            "maintenance.files_before": statistics.median(s["files_before"] for s in done) if done else 0.0,
            "maintenance.files_after": statistics.median(s["files_after"] for s in done) if done else 0.0,
        }


WORKLOADS = {w.name: w for w in (ScanQuery, CorpusDedup)}
