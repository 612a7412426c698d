"""The workloads, what one pass runs and must output, and the layer probes
their traced runs add.

Each calls the library's public functions in the same composition as its
production caller (``triples.build_kg``, ``tools/run_job.py``, the
registered queries). A traced pass composes the same calls stage by stage
so each stage gets its own span.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import subprocess
import sys

import pyarrow.parquet as pq

from . import checks, inputs
from .harness import Bench, noop_count
from .metrics import OPS_LEAVES
from .spans import Tracer

CHAIN_CONVS = 1500      # 14,295 turns of about 36 tokens
LONG_TURNS = 16         # tool-output turns of 2,000 to 8,000 tokens
JOB_BUCKETS = 8
SAMPLE_TURNS = 150

# the row counts of the sf0.1 test tables (5,000 documents, 2,000
# embeddings); inputs.documents and inputs.embeddings copy their shape
OPS_SIZES = {"n_docs": 5000, "n_vecs": 2000}


def canonicalize_counts(linked) -> dict[str, int]:
    """Distinct (surface, dictionary surface) edges fed to connected
    components, and the entities they collapse into."""
    from autoner_spark.triples import canonical_entities

    entities = canonical_entities(linked)
    return {
        "canonicalize.edges":
            linked.select("surface_norm", "dict_surface").distinct().count(),
        "canonicalize.components":
            entities.select("entity_id").distinct().count(),
    }


class Chain:
    """``triples.build_kg`` over a seeded corpus. Its traced run adds the
    tagger and tagvec probes and one more: the resumable job
    (``with_job``) or the operator leaves."""

    n_long = 0
    with_job = False

    def __init__(self, bench: Bench) -> None:
        self.bench = bench
        self.trie = None
        self.expected_spans = None   # None until ``expect``: set-up passes
        self.fingerprint = None      # build_kg's triples, for the job probe
        self.layer: dict[str, float] = {}   # filled during the traced run

    # inputs and set-up ------------------------------------------------------

    def prepare(self) -> None:
        """Generate (or reuse) the corpus and pick the checked sample."""
        b = self.bench
        self.path = inputs.transcripts(b.cache_dir, b.seed, CHAIN_CONVS,
                                       2 * b.nproc, self.n_long)
        cols = pq.read_table(
            self.path, columns=["conv_id", "turn_idx", "text"]).to_pydict()
        self.n_turns = len(cols["text"])
        self.sample = checks.sample_turns(cols, b.seed, SAMPLE_TURNS)
        self.sample_ids = [f"{c}#{t}" for (c, t), _ in self.sample]

    def conf(self) -> dict[str, str]:
        return inputs.split_conf(self.path)

    @staticmethod
    def spec():
        from autoner_spark import synth

        return synth.bench_dict_spec()

    def setup(self) -> None:
        """Dictionary build, both compile steps and the broadcast of the
        compiled automaton: the per-dictionary part of ``setup_s``.
        ``tag_transcripts`` repeats the compile and broadcast inside every
        pass; here they are timed on their own."""
        from autoner_spark import tagger, tagvec
        from autoner_spark.dictionary import build_trie

        tr = self.bench.tracer
        with tr.span("dictionary.build_trie"):
            self.trie = build_trie(self.spec())
        with tr.span("tagger.compile_trie"):
            compiled = tagger.compile_trie(self.trie)
        with tr.span("tagvec.compile_vec"):
            vec = tagvec.compile_vec(compiled)
        with tr.span("tagger.broadcast"):
            self.bench.spark.sparkContext.broadcast(vec).destroy()
        self.layer["tagvec.states"] = int(len(vec["kind"]))
        self.layer["tagvec.vocab"] = int(vec["V"])

    def expect(self) -> None:
        self.expected_spans = checks.oracle_spans(self.sample, self.trie)

    def transcripts_df(self):
        return self.bench.spark.read.parquet(self.path)

    def files(self) -> list[str]:
        return sorted(os.path.join(self.path, f) for f in os.listdir(self.path)
                      if f.endswith(".parquet"))

    # one pass ---------------------------------------------------------------

    def one_pass(self):
        """transcripts -> triples. Untraced it is ``build_kg`` itself; traced
        it is the same calls with one span per stage. ``linked`` stays
        cached for the check until the next ``Bench.cold``."""
        from autoner_spark.caching import persist_tracked
        from autoner_spark.tagger import tag_transcripts
        from autoner_spark.triples import (assemble_triples, build_kg,
                                           canonical_entities,
                                           dict_surfaces_df, link_mentions)

        b, tr = self.bench, self.bench.tracer
        df, spec = self.transcripts_df(), self.spec()
        if not tr.enabled:
            kg = build_kg(b.spark, df, spec, trie=self.trie)
            linked, triples = kg["linked"], kg["triples"]
            n = noop_count(triples)
            return lambda: self.check(linked, triples, n)
        with tr.span("triples.tag_link"):
            linked = persist_tracked(link_mentions(
                tag_transcripts(df, self.trie), dict_surfaces_df(b.spark, spec)))
            linked.count()
        with tr.span("triples.cc"):
            entities = canonical_entities(linked)
        with tr.span("triples.assemble"):
            triples = assemble_triples(linked, entities)
            with tr.span("spark.planning"):
                # optimiser + physical planning of the result, before any
                # task runs (the write below plans its own command again)
                triples._jdf.queryExecution().executedPlan()
            n = noop_count(triples)
        return lambda: self.check(linked, triples, n)

    def check(self, linked, triples, n: int) -> list[str]:
        from pyspark.sql import functions as F

        types = linked.groupBy("entity_type").count().collect()
        problems = checks.count_problems(
            "n_triples", checks.triples_from_types(
                [(r["entity_type"], r["count"]) for r in types]), n)
        if self.expected_spans is not None:
            rows = linked.filter(
                F.concat_ws("#", "conv_id", "turn_idx").isin(self.sample_ids)
            ).select("conv_id", "turn_idx", "begin_tok", "end_tok", "surface",
                     "entity_type").collect()
            got: dict = {}
            for r in rows:
                got.setdefault((r[0], r[1]), set()).add(tuple(r[2:]))
            problems += checks.span_problems(self.expected_spans, got)
            if self.with_job and self.bench.traced and self.fingerprint is None:
                self.fingerprint = checks.spark_fingerprint(triples)
        if self.bench.tracer.enabled:
            self.layer["triples.n_triples"] = n
            self.layer.update(canonicalize_counts(linked))
        return problems

    # traced-run probes ------------------------------------------------------

    def probes(self, wall: float) -> dict[str, float]:
        """Run after the traced pass; ``wall`` is the untraced pass's."""
        out = {**self.tagger_probe(), **self.tagvec_probe(wall)}
        out.update(Job(self).probe() if self.with_job
                   else Ops(self.bench).probe())
        return out

    def tagger_probe(self) -> dict[str, float]:
        """``tag_transcripts`` alone, drained to the no-op sink."""
        from autoner_spark.tagger import tag_transcripts

        self.bench.cold()
        t0 = self.bench.clock()
        with self.bench.tracer.span("tagger.tag_transcripts"):
            n = noop_count(tag_transcripts(self.transcripts_df(), self.trie))
        tag_s = self.bench.clock() - t0
        return {"tagger.tag_s": tag_s, "tagger.mentions": n,
                "tagger.turns_per_s": self.n_turns / tag_s}

    def tagvec_probe(self, wall: float) -> dict[str, float]:
        """Replay the corpus's Arrow batches, at the session's batch size,
        through ``tag_record_batch`` in a process of its own, so that
        process's ``VmHWM`` is the batch peak alone."""
        b = self.bench
        max_records = int(b.spark.conf.get(
            "spark.sql.execution.arrow.maxRecordsPerBatch"))
        with b.tracer.span("tagvec.replay"):
            r = json.loads(subprocess.run(
                [sys.executable, "-m", "perfbench.replay", str(max_records),
                 *self.files()],
                check=True, capture_output=True, text=True,
            ).stdout.splitlines()[-1])
        times = sorted(r["batch_s"])
        total = sum(times)
        return {
            "tagvec.batch_ms_p50": 1000 * statistics.median(times),
            "tagvec.batch_ms_p99":
                1000 * times[min(len(times) - 1, int(0.99 * len(times)))],
            "tagvec.tokens_per_s": r["tokens"] / total,
            "tagvec.match_turn_ratio": r["matched_turns"] / r["turns"],
            "tagvec.max_turn_tokens": r["max_turn_tokens"],
            "tagvec.batch_peak_rss_mb": r["rss_mb"],
            "tagvec.wall_share": total / (b.nproc * wall),
        }


class ChainShort(Chain):
    with_job = True


class ChainLong(Chain):
    n_long = LONG_TURNS


# ---------------------------------------------------------------------------
# the resumable job: tools/run_job.py's composition, a probe of chain_short
# ---------------------------------------------------------------------------


class Job:
    """``tools/run_job.py`` through the library over a chain corpus:
    bucketize, tag each bucket, link, canonicalise, assemble, write through
    the catalog, read back, then resume, which must tag no bucket."""

    def __init__(self, chain: "Chain") -> None:
        self.bench, self.chain = chain.bench, chain
        # fingerprint of build_kg's triples over the same corpus, taken by
        # the chain's untraced pass
        self.expected = chain.fingerprint
        self.n_pass = 0
        self.layer: dict[str, float] = {}

    def one_pass(self):
        from autoner_spark.catalog import TableCatalog
        from autoner_spark.lineage import (bucketize_transcripts, read_lineage,
                                           tag_resumable)
        from autoner_spark.triples import (assemble_triples,
                                           canonical_entities,
                                           dict_surfaces_df, link_mentions)

        b, c = self.bench, self.chain
        tr, spark = b.tracer, b.spark
        self.n_pass += 1
        out = os.path.join(b.work_dir, f"job-{self.n_pass}")
        with tr.span("lineage.bucketize"):
            bucketize_transcripts(c.transcripts_df(), out, JOB_BUCKETS)
        with tr.span("lineage.tag_resumable"):
            mentions = tag_resumable(spark, c.trie, out, JOB_BUCKETS)
        linked = link_mentions(mentions, dict_surfaces_df(spark, c.spec()))
        triples = assemble_triples(linked, canonical_entities(linked))
        cat = TableCatalog(spark, out)
        with tr.span("catalog.write"):
            cat.create_or_replace(triples, "triples")
        with tr.span("catalog.read"):
            n = cat.read("triples").count()
        with tr.span("lineage.resume_noop"):
            done = len(read_lineage(out))
            tag_resumable(spark, c.trie, out, JOB_BUCKETS)
            resumed = len(read_lineage(out)) - done
        return lambda: self.check(cat, out, n, done, resumed)

    def check(self, cat, out, n, done, resumed) -> list[str]:
        from autoner_spark.lineage import read_lineage

        try:
            problems = checks.count_problems("buckets done", JOB_BUCKETS, done)
            problems += checks.count_problems("buckets re-tagged on resume",
                                              0, resumed)
            problems += checks.count_problems("n_triples", self.expected[0], n)
            if checks.spark_fingerprint(cat.read("triples")) != self.expected:
                problems.append("job triple multiset differs from build_kg")
            if self.bench.tracer.enabled:
                self.bucket_counts(out, read_lineage(out))
            return problems
        finally:
            shutil.rmtree(out, ignore_errors=True)

    def bucket_counts(self, out, lineage) -> None:
        spark = self.bench.spark
        secs = sorted(r["wall_ms"] / 1000.0 for r in lineage[:JOB_BUCKETS])
        dirs = [os.path.join(out, "transcripts", f"bucket={k}")
                for k in range(JOB_BUCKETS)]
        tasks = [spark.read.parquet(d).rdd.getNumPartitions()
                 for d in dirs if os.path.isdir(d)]
        self.layer.update({
            "lineage.bucket_s_p50": statistics.median(secs),
            "lineage.bucket_s_max": secs[-1],
            "lineage.tasks_per_bucket": statistics.mean(tasks),
        })

    def probe(self) -> dict[str, float]:
        """At ``local[nproc]``, one untraced job pass that runs the job's
        plans for the first time, then one traced pass. Then one pass on a
        fresh ``local[1]`` session for the scaling efficiency, with spans
        on as well but recorded apart from the run's. The JVM is warm
        there; tagging one input file first starts that session's single
        Python worker."""
        from autoner_spark.tagger import tag_transcripts

        b, c = self.bench, self.chain
        with b.untraced():
            b.run_pass(self.one_pass)           # warm-up, untimed
        wall = b.run_pass(self.one_pass)
        if wall is None:
            return {}
        layer = dict(self.layer)
        self_s = b.tracer.self_times()
        in_job = sum(v for k, v in self_s.items()
                     if k.startswith(("lineage.", "catalog.")))
        run_tracer, b.tracer = b.tracer, Tracer(True)
        try:
            b.start(1, c.conf())
            noop_count(tag_transcripts(
                b.spark.read.parquet(c.files()[0]), c.trie))
            one = b.run_pass(self.one_pass)
        finally:
            b.tracer = run_tracer
        return {
            **layer,
            "lineage.job_s": wall,
            "lineage.job_turns_per_s": c.n_turns / wall,
            "lineage.wall_share": in_job / wall,
            "lineage.scale_eff": one / (b.nproc * wall) if one else 0.0,
        }


# ---------------------------------------------------------------------------
# operator leaves over seeded tables, a probe of chain_long
# ---------------------------------------------------------------------------


class Ops:
    """One cold-cache execution of each leaf in ``OPS_LEAVES`` over seeded
    ``documents`` / ``embeddings`` tables, checked against its DuckDB SQL
    twin. The first execution warms the JVM on the leaves' plans; the
    second is measured."""

    def __init__(self, bench: Bench) -> None:
        self.bench = bench
        self.path = inputs.ops_tables(bench.cache_dir, bench.seed, **OPS_SIZES)
        self.expected = self.twins()

    def twins(self) -> dict[str, tuple[list[str], list[tuple]]]:
        """Each leaf's expected (columns, canonical rows)."""
        import duckdb

        from autoner_spark.queries import ORACLE_SQL

        con = duckdb.connect()
        try:
            for t in inputs.OPS_TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"read_parquet('{self.path}/{t}.parquet')")
            out = {}
            for leaf in OPS_LEAVES:
                res = con.execute(ORACLE_SQL[leaf])
                cols = [d[0] for d in res.description]
                out[leaf] = (cols, checks.canon(res.fetchall(), cols))
            return out
        finally:
            con.close()

    def one_pass(self):
        from autoner_spark import queries as Q

        b, tr = self.bench, self.bench.tracer
        got = {}
        for leaf in OPS_LEAVES:
            b.cold()
            with tr.span(f"ops.{leaf}"):
                df = Q.QUERIES[leaf](b.spark, self.path)
                rows = [tuple(r) for r in df.collect()]
            got[leaf] = (df.columns, rows)
        return lambda: self.check(got)

    def check(self, got) -> list[str]:
        problems = []
        for leaf, (cols, rows) in got.items():
            want_cols, want = self.expected[leaf]
            problems += checks.table_problems(leaf, want_cols, want, cols,
                                              checks.canon(rows, cols))
        return problems

    def probe(self) -> dict[str, float]:
        # the chain's split sizes cut these single-row-group tables into
        # splits of which one reads every row, and double the leaves' time
        for key in inputs.SPLIT_CONFS:
            self.bench.spark.conf.unset(key)
        with self.bench.untraced():
            self.bench.run_pass(self.one_pass)
        wall = self.bench.run_pass(self.one_pass)
        return {"ops.wall_s": wall} if wall is not None else {}


WORKLOADS = {
    "chain_short": ChainShort,
    "chain_long": ChainLong,
}
