"""The scratch registry in ``operators._helpers``: keyed results follow
their inputs, reliable pins are reclaimed by lineage, and the
benchmark's scratch probe still counts builds and hits."""

from __future__ import annotations

import os
import shutil

import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from cdk_serverless_data_lake_sandbox_spark.catalog import load_tables
from cdk_serverless_data_lake_sandbox_spark.operators import _helpers as H
from cdk_serverless_data_lake_sandbox_spark.registry import all_oracles, all_queries
from tests.compare import assert_frames_match
from tests.conftest import SF_MEDIUM, SF_SMALL, await_stream_done, make_duck


def _truncate(path: str, id_col: str, n: int) -> None:
    """Rewrite one parquet table in place, keeping rows with id < n."""
    t = pq.read_table(path)
    pq.write_table(t.filter(pc.less(t[id_col], n)), path)


# ------------------------------------------------------- stale inputs
def test_keyed_results_follow_rewritten_inputs(spark, tmp_path):
    """Keyed scratch, memoized counts and hot-shingle decisions are
    keyed by sf_dir; rewriting the tables under the same sf_dir must
    rebuild them, not serve the old corpus."""
    sf = str(tmp_path / "sf")
    shutil.copytree(SF_SMALL, sf)
    names = ["dedup_ngram_jaccard", "bm25_retrieval", "hybrid_retrieval_rrf"]
    qs, oracles = all_queries(), all_oracles()

    def check(label: str) -> None:
        con = make_duck(sf)
        try:
            for n in names:
                got = qs[n](spark, sf).toPandas()
                assert_frames_match(got, con.execute(oracles[n]).fetchdf(), f"{n} ({label})")
        finally:
            con.close()

    check("original")
    _truncate(os.path.join(sf, "documents.parquet"), "doc_id", 300)
    _truncate(os.path.join(sf, "embeddings.parquet"), "vec_id", 300)
    check("rewritten")


def test_stream_gate_default_key_follows_corpus(spark, tmp_path):
    """Two gates in one application, both on the default corpus key,
    over two different corpora: the second admits by its own corpus."""
    from cdk_serverless_data_lake_sandbox_spark.operators.dedup import (
        dedup_incremental,
    )
    from cdk_serverless_data_lake_sandbox_spark.streaming.jobs import (
        DOCS_STREAM_SCHEMA,
        stream_dedup_gate,
    )

    docs = load_tables(spark, SF_SMALL, ("documents",))["documents"]
    for name, cond in (("a", F.col("doc_id") < 250), ("b", F.col("doc_id") >= 250)):
        docs.where(cond).write.parquet(str(tmp_path / name))
    corpus_a = spark.read.parquet(str(tmp_path / "a"))
    corpus_b = spark.read.parquet(str(tmp_path / "b"))
    copy_b = corpus_b.orderBy("doc_id").first()
    novel = " ".join(f"novel{i} tok{i % 7}" for i in range(40))
    drop = str(tmp_path / "incoming")
    spark.createDataFrame(
        [
            (900001, copy_b.text, "en", "feed", len(copy_b.text)),
            (900002, novel, "en", "feed", len(novel)),
        ],
        DOCS_STREAM_SCHEMA,
    ).write.parquet(drop)

    admitted = {}
    for name, corpus in (("a", corpus_a), ("b", corpus_b)):
        stream = spark.readStream.schema(DOCS_STREAM_SCHEMA).parquet(drop)
        target = str(tmp_path / f"admitted_{name}")
        await_stream_done(stream_dedup_gate(stream, corpus, target))
        got = sorted(r.doc_id for r in spark.read.parquet(target).collect())
        want = sorted(
            r.doc_id
            for r in dedup_incremental(spark.read.parquet(drop), corpus).collect()
        )
        assert got == want, (name, got, want)
        admitted[name] = got
    assert admitted == {"a": [900001, 900002], "b": [900002]}


def test_near_dup_hot_assignment_is_per_call(spark):
    """The hot-label k-means assignment is keyless: two calls over
    different inputs each pair their own vectors, and leave no keyed
    entry behind."""
    from cdk_serverless_data_lake_sandbox_spark.operators.similarity import (
        near_dup_embedding_frame,
    )

    off = 1_000_000

    def frame(shift: int):
        return (
            spark.read.parquet(f"{SF_MEDIUM}/embeddings.parquet")
            .select((F.col("vec_id") + shift).alias("vec_id"), "label", "embedding")
            .withColumn(
                "label",
                F.when(F.col("vec_id") % 2 == 0, F.lit(-1)).otherwise(F.col("label")),
            )
        )

    for shift in (0, off):
        rows = near_dup_embedding_frame(
            frame(shift), pair_budget=1000, subblock_target=50
        ).collect()
        ids = {r["a_id"] for r in rows} | {r["b_id"] for r in rows}
        assert ids and all(shift <= i < shift + off for i in ids), shift
        assert any(r["a_id"] % 2 == 0 and r["b_id"] % 2 == 0 for r in rows)
    assert not [k for (_, k) in H._MATERIALIZED if "neardup-hot-assign" in k]


# ------------------------------------------------------ reliable pins
class _reliable:
    def __init__(self, spark):
        self.spark = spark

    def __enter__(self):
        self.spark.conf.set("spark.graft.materializer", "reliable")
        app = self.spark.sparkContext.applicationId
        self.app_dir = os.path.join(H._SCRATCH_ROOT, app)
        return self

    def __exit__(self, *exc):
        self.spark.conf.unset("spark.graft.materializer")

    def dirs(self) -> set[str]:
        return set(os.listdir(self.app_dir)) if os.path.isdir(self.app_dir) else set()


def _step(df):
    return H.pin(df.withColumn("id", F.col("id") + 1))  # one call site


def test_pin_reliable_keeps_two_generations_of_a_chained_loop(spark):
    """A 6-round chained loop leaves at most 2 pin dirs on disk, and
    the newest and previous generations both stay readable."""
    with _reliable(spark) as r:
        before = r.dirs()
        frames = [spark.range(10)]
        for _ in range(6):
            frames.append(_step(frames[-1]))
        assert len(r.dirs() - before) <= 2
        assert sorted(x.id for x in frames[-1].collect()) == list(range(6, 16))
        assert frames[-2].count() == 10


def test_pin_lineages_from_one_site_do_not_reclaim_each_other(spark):
    """Lineage A, held lazily, stays readable after lineage B pins 3
    rounds from the same call site."""
    with _reliable(spark):
        a = spark.range(10)
        for _ in range(3):
            a = _step(a)
        held = a.withColumn("twice", F.col("id") * 2)
        b = spark.range(100, 105)
        for _ in range(3):
            b = _step(b)
        assert sorted(x.id for x in b.collect()) == list(range(103, 108))
        assert sorted(x.twice for x in held.collect()) == [2 * i for i in range(3, 13)]


def test_pin_base_of_a_different_shape_outlives_the_loop(spark):
    """A pinned base read by the first iterate and joined again after
    the loop (pagerank's node table) is not reclaimed with the
    iterates."""
    with _reliable(spark):
        nodes = H.pin(spark.range(5).withColumn("deg", F.lit(1)))
        ranks = H.pin(nodes.select("id", F.lit(0).alias("rank")))
        for _ in range(3):
            ranks = H.pin(ranks.withColumn("rank", F.col("rank") + 1))
        out = ranks.join(nodes, "id").collect()
        assert sorted((x.id, x.rank, x.deg) for x in out) == [(i, 3, 1) for i in range(5)]


# ------------------------------------------------------ benchmark probe
def test_scratch_probe_counts_one_build_and_one_hit(spark, tmp_path):
    """perfbench's scratch probe wraps the registry's entry points by
    name; a registry change must not silently zero its counts."""
    from perfbench.trace import Tracer, install_scratch_probe

    src = str(tmp_path / "src")
    spark.range(20).write.parquet(src)
    key = f"probe:{src}"
    saved = (H._materialize_with_path, H.materialize_lazy)
    t = Tracer()
    install_scratch_probe(t, H)
    try:
        for _ in range(2):
            got = H.materialize_lazy(spark, key, lambda: spark.read.parquet(src))
            assert got.count() == 20
    finally:
        H._materialize_with_path, H.materialize_lazy = saved
    assert [s.attrs["key"] for s in t.named("scratch.build")] == [key]
    assert [s.attrs["key"] for s in t.named("scratch.hit")] == [key]
