"""Semantic tests for the round-3 operators: cross-doc span removal,
phrase counting, unigram entropy, and content-defined chunk dedup.

The oracle-parity sweep (test_oracle_parity.py) already proves each
registered query equals its DuckDB oracle at sf0.01; these tests pin
the BEHAVIOR on synthetic inputs where the expected answer is known by
construction (owner keeps its text, overlap counting is
non-overlapping, entropy of uniform/constant docs, CDC boundary
stability under edits).
"""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from cdk_serverless_data_lake_sandbox_spark.operators.dedup import (
    cdc_chunk_dedup_frame,
)
from cdk_serverless_data_lake_sandbox_spark.operators.shaping import (
    strip_dup_spans_frame,
)
from cdk_serverless_data_lake_sandbox_spark.operators.text import (
    phrase_search_frame,
    unigram_entropy_frame,
)


def _docs_df(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, source string, text string")


# ------------------------------------------------------ strip_dup_spans
def test_strip_keeps_owner_and_excises_copies(spark):
    shared = "a b c d e f g h"  # exactly k=8 words
    rows = [
        (1, "s0", shared + " i j"),
        (2, "s0", shared + " x y"),
        (3, "s0", "p q r s t u v w z1 z2"),
    ]
    out = {
        r["doc_id"]: r
        for r in strip_dup_spans_frame(_docs_df(spark, rows)).collect()
    }
    # owner (min doc_id) keeps everything
    assert out[1]["n_removed"] == 0
    assert out[1]["text_clean"] == shared + " i j"
    # non-owner loses exactly the 8 covered positions
    assert out[2]["n_removed"] == 8
    assert out[2]["text_clean"] == "x y"
    # untouched doc passes through verbatim
    assert out[3]["n_removed"] == 0
    assert out[3]["text_clean"] == rows[2][2]
    assert all(r["n_tokens"] == 10 for r in out.values())


def test_strip_fully_covered_doc_becomes_empty(spark):
    shared = "a b c d e f g h"
    rows = [(1, "s0", shared + " tail1 tail2"), (2, "s0", shared)]
    out = {
        r["doc_id"]: r
        for r in strip_dup_spans_frame(_docs_df(spark, rows)).collect()
    }
    assert out[2]["n_removed"] == 8
    assert out[2]["text_clean"] == ""


def test_strip_output_has_no_remaining_cross_doc_spans(spark):
    """Re-running the profile on the stripped corpus finds nothing:
    every duplicated span kept exactly one owner occurrence."""
    from cdk_serverless_data_lake_sandbox_spark.operators.shaping import (
        dup_span_profile,
    )

    shared = "a b c d e f g h i j k l"
    rows = [
        (1, "s0", shared + " end1 end2"),
        (2, "s0", "lead1 lead2 " + shared),
        (3, "s0", shared),
    ]
    stripped = strip_dup_spans_frame(_docs_df(spark, rows)).select(
        "doc_id", "text_clean"
    )
    redo = dup_span_profile(
        stripped.selectExpr("doc_id", "text_clean AS text")
    )
    assert all(r["n_dup_spans"] == 0 for r in redo.collect())


# -------------------------------------------------------- phrase_search
def test_phrase_counts_are_non_overlapping_and_per_source(spark):
    rows = [
        (1, "s0", "ab ab ab"),
        (2, "s1", "ab ab"),
        (3, "s1", "zz"),
    ]
    out = {
        r["phrase"]: r
        for r in phrase_search_frame(
            _docs_df(spark, rows), phrases=("ab ab", "zz", "qq")
        ).collect()
    }
    # "ab ab ab" contains ONE non-overlapping "ab ab" (left-to-right)
    assert out["ab ab"]["n_occurrences"] == 2
    assert out["ab ab"]["n_docs"] == 2
    assert out["ab ab"]["n_sources"] == 2
    assert out["zz"]["n_docs"] == 1 and out["zz"]["n_sources"] == 1
    # absent phrase still reports a zero row (the probe list is the axis)
    assert out["qq"]["n_docs"] == 0 and out["qq"]["n_occurrences"] == 0


# ------------------------------------------------------ unigram_entropy
def test_entropy_uniform_and_constant_docs(spark):
    rows = [
        (1, "s0", "a b c d"),  # uniform over 4 types -> 2 bits, norm 1
        (2, "s0", "a a a a"),  # constant -> 0 bits, norm 0
        (3, "s0", "a a b b b b"),  # p=(1/3,2/3)
    ]
    out = {
        r["doc_id"]: r
        for r in unigram_entropy_frame(_docs_df(spark, rows)).collect()
    }
    assert out[1]["entropy_bits"] == 2.0 and out[1]["norm_entropy"] == 1.0
    assert out[2]["entropy_bits"] == 0.0 and out[2]["norm_entropy"] == 0.0
    h = -(1 / 3) * math.log2(1 / 3) - (2 / 3) * math.log2(2 / 3)
    assert abs(out[3]["entropy_bits"] - round(h, 6)) < 1e-9
    assert out[3]["n_tokens"] == 6 and out[3]["n_distinct"] == 2


# ------------------------------------------------------ cdc_chunk_dedup
def _word_stream(n, seed):
    # deterministic pseudo-text: enough variety for boundaries to land
    return " ".join(f"w{(i * 7 + seed) % 23}x{i % 11}" for i in range(n))


def test_cdc_identical_docs_across_sources_share_all_chunks(spark):
    text = _word_stream(120, seed=3)
    rows = [(1, "s0", text), (2, "s1", text)]
    out = {
        r["source"]: r
        for r in cdc_chunk_dedup_frame(_docs_df(spark, rows)).collect()
    }
    for s in ("s0", "s1"):
        # every distinct chunk of each copy exists in the other source
        assert out[s]["n_shared_chunks"] == out[s]["n_unique_chunks"] > 0
        assert out[s]["bytes_unique"] <= out[s]["bytes_total"]


def test_cdc_local_edit_preserves_distant_chunks(spark):
    """The CDC property fixed-size blocks lack: editing the head of a
    document leaves later chunk identities unchanged, so the edited
    copy still shares most chunks with the original."""
    base = _word_stream(200, seed=5)
    edited = "EDIT0 EDIT1 EDIT2 " + base.split(" ", 3)[3]
    rows = [(1, "s0", base), (2, "s1", edited)]
    out = {
        r["source"]: r
        for r in cdc_chunk_dedup_frame(_docs_df(spark, rows)).collect()
    }
    # most of the edited copy's chunks still match the original
    shared_frac = out["s1"]["n_shared_chunks"] / out["s1"]["n_unique_chunks"]
    assert shared_frac >= 0.5, out["s1"]
    # and the original keeps at least one chunk the edit broke
    assert out["s0"]["n_shared_chunks"] < out["s0"]["n_unique_chunks"]


# ----------------------------------------------- min_label_components
def test_union_find_fastpath_matches_iterative_propagation(spark):
    """The driver union-find fast path and the distributed min-label
    propagation must produce identical component labels (the component
    min). Graph: a 4-node chain, a 2-node island, and isolated nodes."""
    from cdk_serverless_data_lake_sandbox_spark.operators.pipeline import (
        min_label_components,
    )

    docs = spark.createDataFrame(
        [(i,) for i in range(10)], "doc_id long"
    )
    pairs = spark.createDataFrame(
        [(3, 1), (1, 7), (7, 5), (8, 9)], "a_id long, b_id long"
    )
    fast = {
        r["doc_id"]: r["label"]
        for r in min_label_components(docs, pairs).collect()
    }
    slow = {
        r["doc_id"]: r["label"]
        for r in min_label_components(
            docs, pairs, fastpath_max_edges=0
        ).collect()
    }
    assert fast == slow
    assert fast[3] == fast[1] == fast[7] == fast[5] == 1
    assert fast[8] == fast[9] == 8
    for iso in (0, 2, 4, 6):
        assert fast[iso] == iso


# -------------------------------------------------------- global_shuffle
def test_global_shuffle_is_a_dense_permutation(spark):
    """Every doc gets exactly one (shard, pos) slot; positions are
    dense 1..n per shard; re-running yields the identical assignment
    (no RNG state anywhere)."""
    from cdk_serverless_data_lake_sandbox_spark.registry import all_queries
    from tests.conftest import SF_SMALL

    q = all_queries()["global_shuffle"]
    a = q(spark, SF_SMALL).toPandas()
    b = q(spark, SF_SMALL).toPandas()
    assert a.doc_id.is_unique
    for _, grp in a.groupby("shard"):
        assert sorted(grp.pos_in_shard) == list(range(1, len(grp) + 1))
    key = ["doc_id"]
    assert a.sort_values(key).reset_index(drop=True).equals(
        b.sort_values(key).reset_index(drop=True)
    )
    # the permutation actually shuffles: shard order != doc_id order
    first_shard = a[a.shard == a.shard.iloc[0]].sort_values("pos_in_shard")
    assert not first_shard.doc_id.is_monotonic_increasing


# ---------------------------------------------------------- bloom index
def test_bloom_index_prunes_files_without_losing_rows(spark, tmp_path):
    """Build the per-file bloom index over doc_id, look up a handful of
    keys: the filtered read must return exactly the full-scan rows AND
    touch fewer files than the table has (real pruning, no false
    negatives)."""
    from cdk_serverless_data_lake_sandbox_spark.catalog import load_tables
    from cdk_serverless_data_lake_sandbox_spark.operators.etl import (
        bloom_candidate_files,
        bloom_filtered_read,
        bloom_index_build,
    )
    from tests.conftest import SF_SMALL

    docs = load_tables(spark, SF_SMALL, ("documents",))["documents"]
    table = str(tmp_path / "docs_tbl")
    # spread doc_ids across many files so point lookups CAN prune
    docs.repartition(16, "doc_id").write.parquet(table)
    index = str(tmp_path / "docs_bloom")
    idx = bloom_index_build(spark, table, "doc_id", index)
    assert idx.columns == ["file", "slot", "bitmap"]

    keys = [3, 77, 411]
    cand = bloom_candidate_files(spark, index, keys)
    n_files = len(
        [f for f in __import__("os").listdir(table) if f.endswith(".parquet")]
    )
    assert 0 < len(cand) < n_files, (len(cand), n_files)

    got = (
        bloom_filtered_read(spark, table, "doc_id", keys, index)
        .orderBy("doc_id")
        .collect()
    )
    want = (
        spark.read.parquet(table)
        .where(F.col("doc_id").isin(keys))
        .orderBy("doc_id")
        .collect()
    )
    assert got == want and len(got) == 3


def test_bloom_index_empty_result_keeps_schema(spark, tmp_path):
    from cdk_serverless_data_lake_sandbox_spark.catalog import load_tables
    from cdk_serverless_data_lake_sandbox_spark.operators.etl import (
        bloom_filtered_read,
        bloom_index_build,
    )
    from tests.conftest import SF_SMALL

    docs = load_tables(spark, SF_SMALL, ("documents",))["documents"]
    table = str(tmp_path / "t2")
    docs.repartition(4, "doc_id").write.parquet(table)
    index = str(tmp_path / "b2")
    bloom_index_build(spark, table, "doc_id", index)
    out = bloom_filtered_read(spark, table, "doc_id", [10_000_001], index)
    assert out.count() == 0
    assert set(out.columns) == set(docs.columns)


# ---------------------------------------------------------- compression
def test_compression_ratio_matches_direct_zlib_and_orders_quality(spark):
    import zlib

    from cdk_serverless_data_lake_sandbox_spark.operators.text import (
        compression_ratio_frame,
    )

    diverse = " ".join(f"tok{i * 37 % 101}x{i}" for i in range(80))
    rows = [
        (1, "s0", "spam spam spam " * 40),
        (2, "s0", diverse),
    ]
    out = {
        r["doc_id"]: r
        for r in compression_ratio_frame(_docs_df(spark, rows)).collect()
    }
    for doc_id, _, text in rows:
        b = text.encode("utf-8")
        assert out[doc_id]["n_bytes"] == len(b)
        assert out[doc_id]["n_compressed"] == len(zlib.compress(b, 6))
        assert out[doc_id]["compression_ratio"] == round(
            len(zlib.compress(b, 6)) / len(b), 6
        )
    # the signal: repeated boilerplate compresses far better
    assert (
        out[1]["compression_ratio"] < 0.5 * out[2]["compression_ratio"]
    ), (out[1], out[2])


# ------------------------------------------- histogram percentile rollup
def test_histogram_rollup_error_bounded_by_bin_width(spark):
    """The merged-histogram quantile estimate must sit within one bin
    width ABOVE the exact percentile (upper-edge = conservative)."""
    from cdk_serverless_data_lake_sandbox_spark.catalog import load_tables
    from cdk_serverless_data_lake_sandbox_spark.registry import all_queries
    from tests.conftest import SF_SMALL

    est = {
        r["event_type"]: r
        for r in all_queries()["histogram_rollup_percentiles"](
            spark, SF_SMALL
        ).collect()
    }
    ev = load_tables(spark, SF_SMALL, ("events",))["events"].toPandas()
    for etype, grp in ev.groupby("event_type"):
        vals = sorted(grp["value"])
        for q, col in ((0.50, "p50_est"), (0.95, "p95_est"), (0.99, "p99_est")):
            # the estimator targets the value at 1-based rank
            # ceil(q*n) and reports the upper edge of its bin
            exact = vals[math.ceil(q * len(vals)) - 1]
            got = est[etype][col]
            w = est[etype]["bin_width"]
            assert exact - 1e-9 <= got <= exact + w + 1e-9, (
                etype, q, exact, got, w,
            )


# ------------------------------------------------------ minhash index
def test_minhash_index_matches_inline_lsh(spark, tmp_path):
    """Probing the persisted index with the corpus itself must yield
    exactly the inline dedup_minhash_lsh candidate pairs (same bands,
    same signatures, same estimator) — plus the trivial self-matches,
    which are filtered here."""
    from cdk_serverless_data_lake_sandbox_spark.catalog import load_tables
    from cdk_serverless_data_lake_sandbox_spark.operators.dedup import (
        minhash_index_build,
        minhash_index_query,
    )
    from cdk_serverless_data_lake_sandbox_spark.registry import all_queries
    from tests.conftest import SF_SMALL

    docs = load_tables(spark, SF_SMALL, ("documents",))["documents"]
    idx = str(tmp_path / "mh_index")
    meta = minhash_index_build(docs, idx)
    assert meta["n_docs"] == docs.count() and meta["n_bands"] == 8

    got = {
        (min(r["new_id"], r["corpus_id"]), max(r["new_id"], r["corpus_id"]))
        for r in minhash_index_query(spark, idx, docs, 0.5).collect()
        if r["new_id"] != r["corpus_id"]
    }
    want = {
        (r["a_id"], r["b_id"])
        for r in all_queries()["dedup_minhash_lsh"](spark, SF_SMALL).collect()
        if r["est_jaccard"] >= 0.5
    }
    assert got == want and len(want) > 0


def test_minhash_index_flags_near_dup_batch(spark, tmp_path):
    """A new batch containing a lightly-edited copy of a corpus doc is
    flagged against its source; a novel doc is not flagged."""
    from cdk_serverless_data_lake_sandbox_spark.catalog import load_tables
    from cdk_serverless_data_lake_sandbox_spark.operators.dedup import (
        minhash_index_build,
        minhash_index_query,
    )
    from tests.conftest import SF_SMALL

    docs = load_tables(spark, SF_SMALL, ("documents",))["documents"]
    idx = str(tmp_path / "mh2")
    minhash_index_build(docs, idx)
    src = docs.orderBy("doc_id").limit(1).collect()[0]
    edited = src["text"] + " tail extra"
    novel = " ".join(f"nv{i}q{i*3%17}" for i in range(60))
    batch = spark.createDataFrame(
        [(900001, edited), (900002, novel)], "doc_id long, text string"
    )
    hits = minhash_index_query(spark, idx, batch, 0.5).collect()
    flagged = {r["new_id"] for r in hits}
    assert 900001 in flagged
    assert all(
        r["corpus_id"] == src["doc_id"] for r in hits if r["new_id"] == 900001
    ) or any(r["corpus_id"] == src["doc_id"] for r in hits if r["new_id"] == 900001)
    assert 900002 not in flagged


# ------------------------------------------------------ multi-probe LSH
def test_multiprobe_lsh_dominates_single_probe(spark):
    """Multi-probe candidates are a superset of single-probe's, so its
    recall@k against brute force must be >= the single-probe path and
    clear a floor on this data."""
    from cdk_serverless_data_lake_sandbox_spark.registry import all_queries
    from tests.conftest import SF_SMALL

    qs = all_queries()
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in qs["ann_topk_bruteforce"](spark, SF_SMALL).collect()
    }
    single = {
        (r["query_id"], r["neighbor_id"])
        for r in qs["ann_lsh_bucketed"](spark, SF_SMALL).collect()
    }
    multi = {
        (r["query_id"], r["neighbor_id"])
        for r in qs["ann_lsh_multiprobe"](spark, SF_SMALL).collect()
    }
    r_single = len(single & exact) / len(exact)
    r_multi = len(multi & exact) / len(exact)
    assert r_multi >= r_single
    assert r_multi >= 0.85, (r_single, r_multi)


def test_minhash_index_compaction_preserves_results(spark, tmp_path):
    """After simulated streaming appends, compaction shrinks the file
    count and leaves query results identical."""
    from cdk_serverless_data_lake_sandbox_spark.catalog import load_tables
    from cdk_serverless_data_lake_sandbox_spark.operators.dedup import (
        minhash_index_build,
        minhash_index_compact,
        minhash_bands,
        minhash_index_query,
        _minhash_signatures,
    )
    from pyspark.sql import functions as FF
    from tests.conftest import SF_SMALL

    docs = load_tables(spark, SF_SMALL, ("documents",))["documents"]
    idx = str(tmp_path / "idx")
    minhash_index_build(docs.where("doc_id < 250"), idx)
    # simulate 3 micro-batch appends
    for lo, hi in ((250, 300), (300, 350), (350, 400)):
        part = docs.where(f"doc_id >= {lo} and doc_id < {hi}")
        sigs = _minhash_signatures(part)
        sigs.write.mode("append").parquet(idx + "/sig")
        (
            sigs.select(FF.inline(minhash_bands()), "doc_id")
            .write.mode("append")
            .partitionBy("band")
            .parquet(idx + "/bands")
        )
    probe = docs.where("doc_id >= 400 and doc_id < 450")
    before = {
        (r["new_id"], r["corpus_id"])
        for r in minhash_index_query(spark, idx, probe, 0.5).collect()
    }
    stats = minhash_index_compact(spark, idx)
    assert stats["files_after"] < stats["files_before"], stats
    after = {
        (r["new_id"], r["corpus_id"])
        for r in minhash_index_query(spark, idx, probe, 0.5).collect()
    }
    assert before == after


# --------------------------------------------- hot-posting guard paths
def test_hot_posting_guard_produces_identical_pairs(spark):
    """Forcing EVERY posting through the self-join guard
    (hot_threshold=1) must reproduce the default in-lambda plan's
    pair set exactly, for both the jaccard and containment cores —
    the two physical strategies share one semantics."""
    from cdk_serverless_data_lake_sandbox_spark.catalog import load_tables
    from cdk_serverless_data_lake_sandbox_spark.operators.dedup import (
        containment_pairs,
        ngram_jaccard_pairs,
    )
    from tests.conftest import SF_SMALL

    docs = load_tables(spark, SF_SMALL, ("documents",))["documents"]
    for core, key in ((ngram_jaccard_pairs, ("a_id", "b_id")),
                      (containment_pairs, None)):
        default = core(docs).collect()
        forced = core(docs, hot_threshold=1).collect()
        cols = default[0].asDict().keys() if default else []
        d = {tuple(r[c] for c in cols) for r in default}
        f = {tuple(r[c] for c in cols) for r in forced}
        assert d == f and len(d) > 0, core.__name__


# ----------------------------------------------------- result reuse
def test_results_zone_reuses_fresh_semantically_equal_runs(spark, tmp_path):
    """Athena result-reuse analog: a semantically identical query
    within the age window returns the stored run without a new
    execution (no new run dir); a changed query or an expired window
    executes fresh."""
    from cdk_serverless_data_lake_sandbox_spark.catalog import (
        ResultsZone,
        load_tables,
    )
    from tests.conftest import SF_SMALL

    rz = ResultsZone(spark, str(tmp_path / "results"))
    docs = load_tables(spark, SF_SMALL, ("documents",))["documents"]
    q = docs.groupBy("lang").count()
    r1, reused1 = rz.run_cached("lang_counts", q)
    assert not reused1
    # textually different but semantically identical plan
    q2 = docs.groupBy("lang").count()
    r2, reused2 = rz.run_cached("lang_counts", q2)
    assert reused2 and r2 == r1
    assert rz.list_runs("lang_counts") == [r1]
    # a different query misses the cache
    q3 = docs.groupBy("source").count()
    r3, reused3 = rz.run_cached("lang_counts", q3)
    assert not reused3 and r3 == r1 + 1
    # expired window misses even on a hash match
    r4, reused4 = rz.run_cached("lang_counts", q3, max_age_s=0.0)
    assert not reused4 and r4 == r3 + 1
