"""Round-10 advice regressions.

1. `_ulm_assemble`'s map-stitch gate must bound the broadcast map by
   ESTIMATED BYTES, not entry count alone: the map collapses to one
   row, and Spark's single-row/broadcast ceilings are byte-sized, so
   4M long-wtxt entries can blow them while passing a count gate.
2. `publish_tables` must survive a concurrent `vacuum_staging` aging
   out its temp manifest between the dump and the atomic link — the
   retry loop rewrites the manifest instead of dying on
   FileNotFoundError and aborting an otherwise-complete publish.
3. `bootstrap_ci_doclen` must report the SURVIVING replicate count
   and clamp its nearest-rank picks to it (the w > 0 filter can drop
   replicates on a tiny corpus; fixed indices 2/63 then index past
   the list and yield NULL bounds mislabeled as a 64-replicate CI).
4. `bitext_margin_mining_lsh` must fail LOUDLY when the hot-bucket
   posting cap would truncate in the 4-plane regime — the regime its
   registered oracle models with neither guard.
"""

from __future__ import annotations

import duckdb
import pytest

from tests.compare import assert_frames_match
from tests.conftest import SF_SMALL


def test_ulm_map_gate_is_byte_bounded():
    from cdk_serverless_data_lake_sandbox_spark.operators.text import (
        _ULM_BCAST_BYTES,
        _ULM_BCAST_MAX,
        _ulm_map_gate,
    )

    # small vocab, small payload: map path
    assert _ulm_map_gate(10_000, 1_000_000)
    # entry count over the cap: shuffle path regardless of bytes
    assert not _ulm_map_gate(_ULM_BCAST_MAX + 1, 1_000_000)
    # LOW cardinality but huge wtxt payload: the r9-advice case — the
    # count gate alone would broadcast this; the byte gate must not
    assert not _ulm_map_gate(50_000, _ULM_BCAST_BYTES + 1)
    # empty vocab (sum over zero rows is NULL): map path, no crash
    assert _ulm_map_gate(0, None)


def test_publish_survives_tmp_manifest_vacuumed_mid_link(spark, tmp_path, monkeypatch):
    """Delete the temp manifest just before the first link attempt —
    exactly what an aggressive vacuum_staging does — and assert the
    publish still commits with readable tables."""
    import os

    from cdk_serverless_data_lake_sandbox_spark.catalog import Lake

    lake = Lake(spark, str(tmp_path / "lake"))
    lake.add_zone("processed")
    real_link = os.link
    state = {"sabotaged": False}

    def sabotaging_link(src, dst):
        if not state["sabotaged"] and os.path.basename(src).startswith("_tmp_"):
            state["sabotaged"] = True
            os.unlink(src)  # the vacuum racing us
        return real_link(src, dst)

    monkeypatch.setattr(os, "link", sabotaging_link)
    cid = lake.publish_tables(
        "processed", {"t": spark.range(5).toDF("id")}
    )
    monkeypatch.undo()
    assert state["sabotaged"], "test harness never exercised the race"
    assert cid == 0
    got = lake.read_published("processed", "t")
    assert sorted(r.id for r in got.collect()) == [0, 1, 2, 3, 4]
    # no temp-manifest debris left behind
    cdir = tmp_path / "lake" / "processed" / "_commits"
    assert not [f for f in os.listdir(cdir) if f.startswith("_tmp_")]


def test_bootstrap_ci_reports_surviving_replicates(spark, tmp_path):
    """Two one-char docs: a deterministic ~13% of the 64 Poisson
    replicates draw weight 0 for both docs and are dropped by the
    w > 0 filter. n_replicates must equal the survivor count, the
    rank picks must clamp in-bounds (non-NULL CI), and Spark must
    still match the registered oracle hash-exactly on this corpus."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from cdk_serverless_data_lake_sandbox_spark.operators.stats import (
        _BOOT_R,
        bootstrap_ci_doclen,
    )
    from cdk_serverless_data_lake_sandbox_spark.registry import all_oracles

    docs = pd.DataFrame(
        {
            "doc_id": pd.array([1, 2], dtype="int64"),
            "text": ["a", "bb"],
            "lang": ["en", "en"],
            "source": ["s", "s"],
            "n_chars": pd.array([1, 2], dtype="int64"),
        }
    )
    sf = tmp_path / "sf"
    sf.mkdir()
    pq.write_table(pa.Table.from_pandas(docs), str(sf / "documents.parquet"))

    got = bootstrap_ci_doclen(spark, str(sf)).toPandas()
    n_rep = int(got.loc[0, "n_replicates"])
    assert 0 < n_rep < _BOOT_R, (
        "planted corpus was chosen so SOME (not all) replicates drop; "
        f"got {n_rep}/{_BOOT_R} — the degenerate path is not exercised"
    )
    assert got.loc[0, "ci_low"] == got.loc[0, "ci_low"]  # not NaN
    assert got.loc[0, "ci_high"] == got.loc[0, "ci_high"]
    assert got.loc[0, "ci_low"] <= got.loc[0, "ci_high"]

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf}/documents.parquet')"
    )
    oracle = con.execute(all_oracles()["bootstrap_ci_doclen"]).df()
    assert_frames_match(got, oracle, "bootstrap_ci_doclen/degenerate")


def test_bitext_lsh_posting_cap_warns_loudly_when_engaged(spark, tmp_path):
    """300 identical vectors per side: every vector of a side lands in
    the same (tbl, bucket) posting, occupancy 300 > the 256 cap, while
    n_side=300 keeps the 4-plane regime — the op must WARN at the
    source (naming the truncation) and complete with capped postings.
    A hard raise would reject legitimate duplicate-heavy corpora —
    exactly the hub territory the cap exists to bound (the r10 sf1
    soak tier clones every vector 10x and lives in this regime)."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from cdk_serverless_data_lake_sandbox_spark.operators.similarity import (
        bitext_margin_mining_lsh,
    )

    n = 300
    emb = pd.DataFrame(
        {
            "vec_id": pd.array(range(2 * n), dtype="int64"),
            "embedding": [[1.0, 0.5, -0.25, 2.0]] * (2 * n),
            "label": pd.array([0] * n + [1] * n, dtype="int32"),
        }
    )
    sf = tmp_path / "sf"
    sf.mkdir()
    pq.write_table(
        pa.Table.from_pandas(emb), str(sf / "embeddings.parquet")
    )
    with pytest.warns(UserWarning, match="posting cap truncating"):
        rows = bitext_margin_mining_lsh(spark, str(sf)).collect()
    # identical vectors are mutual near-dups with margin ~1.0 — the
    # ratio cut rejects them all, so the capped mining yields nothing
    assert rows == []


def test_bitext_lsh_guards_inert_at_oracle_sf(spark, duck_small):
    """At the oracle-checked SF the assertion path runs and passes —
    and the result still matches the guard-free oracle."""
    from cdk_serverless_data_lake_sandbox_spark.registry import (
        all_oracles,
        all_queries,
    )

    got = all_queries()["bitext_margin_mining_lsh"](spark, SF_SMALL).toPandas()
    oracle = duck_small.execute(
        all_oracles()["bitext_margin_mining_lsh"]
    ).df()
    assert_frames_match(got, oracle, "bitext_margin_mining_lsh/sf0.001")


def test_bitext_lsh_recall_floor_with_guards_engaged(spark, tmp_path):
    """r9 verdict item 2: recall vs the exact C136 miner in the tier
    where BOTH guards fire — adaptive plane count above 4 AND the
    posting cap truncating hot buckets. The planted corpus's tight hub
    cluster floods its bucket (truncation), and the exact miner mines
    ZERO pairs from it (the margin rejects mutual near-duplicates) —
    the design claim that the cap truncates only margin-rejected
    territory. Background pairs are the denominator; floor 0.75
    (measured 0.85, see SOAK_r10_bitext_recall.json)."""
    from pyspark.sql import functions as F

    from cdk_serverless_data_lake_sandbox_spark.operators.similarity import (
        _BITEXT_MAX_POSTING,
        _N_PLANES,
        _bitext_planes,
        _emb,
        _emb_dim,
        _hyperplane_buckets,
        bitext_margin_mining,
        bitext_margin_mining_lsh,
    )
    from tests.bitext_fixtures import mined_pairs, plant_engaged_bitext_corpus

    d = str(tmp_path / "btx")
    n_side = plant_engaged_bitext_corpus(d)
    planes = _bitext_planes(n_side)
    assert planes > _N_PLANES  # plane gate engaged

    e = _emb(spark, d)
    dim = _emb_dim(e)
    bk = _hyperplane_buckets(e, dim, ["vec_id", "label"], planes)
    truncated = (
        bk.groupBy("tbl", "bucket", "label")
        .count()
        .where(F.col("count") > _BITEXT_MAX_POSTING)
        .count()
    )
    assert truncated > 0  # posting cap engaged

    exact = mined_pairs(bitext_margin_mining(spark, d))
    n_bg = 32 * 80  # fixture default background population
    assert len(exact) > 2000, "exact miner should mine the background"
    assert not [p for p in exact if p[0] >= n_bg], (
        "hub-cluster pairs must be margin-rejected by the EXACT miner; "
        "if any appear, the cap now truncates mineable territory and "
        "the floor below no longer isolates guard-induced loss"
    )
    lsh = mined_pairs(bitext_margin_mining_lsh(spark, d))
    recall = len(exact & lsh) / len(exact)
    assert recall >= 0.75, f"engaged-guard recall {recall:.3f} < 0.75"


# ---------------------------------------------------------------- E52
def test_stream_semantic_dedup_gate_drops_near_dups_and_replays(spark, tmp_path):
    """E52 (r9 verdict item 5): the embedding-level ingest gate probes
    a C86-built IVF index, drops a cosine-near copy of a CORPUS vector
    on first sight, drops a near-copy of a batch-1 ADMIT in batch 2
    (proving index growth), admits novel vectors — and a simulated
    crash-before-marker replay reuses the stored admit decisions
    byte-for-byte (no duplicates, no re-drops)."""
    import os

    import numpy as np

    from cdk_serverless_data_lake_sandbox_spark.catalog import load_tables
    from cdk_serverless_data_lake_sandbox_spark.operators.similarity import (
        ivf_index_build,
    )
    from cdk_serverless_data_lake_sandbox_spark.streaming.jobs import (
        stream_semantic_dedup_gate,
    )
    from tests.conftest import await_stream_done

    idx = str(tmp_path / "ivf")
    ivf_index_build(spark, SF_SMALL, idx)
    emb = load_tables(spark, SF_SMALL, ("embeddings",))["embeddings"]
    src = emb.orderBy("vec_id").limit(2).collect()
    corpus_vec = [float(x) for x in src[0].embedding]

    rng = np.random.default_rng(11)
    novel1 = rng.standard_normal(64).astype(np.float32).tolist()
    novel2 = rng.standard_normal(64).astype(np.float32).tolist()
    # preconditions (deterministic given the fixed corpus + seed):
    # novel vectors are far from every corpus vector; the near-copies
    # are scale-perturbed (cosine-identical) twins of their sources
    mx = emb.selectExpr(
        "max(aggregate(zip_with(embedding, array({0}),"
        " (x, y) -> CAST(x AS DOUBLE) * y), 0.0d, (a, v) -> a + v)"
        " / (sqrt(aggregate(transform(embedding, x -> CAST(x AS DOUBLE)"
        " * x), 0.0d, (a, v) -> a + v)) * {1})) AS m".format(
            ", ".join(f"CAST({v} AS DOUBLE)" for v in novel1),
            float(np.linalg.norm(novel1)),
        )
    ).first()[0]
    assert mx < 0.9, f"seed 11 novel vector too close to corpus ({mx:.3f})"

    batch1 = [
        (900001, [v * 1.01 for v in corpus_vec]),  # corpus near-copy -> drop
        (900002, novel1),  # admit
    ]
    batch2 = [
        (900003, [v * 0.99 for v in novel1]),  # batch-1-admit copy -> drop
        (900004, novel2),  # admit
    ]
    drop = str(tmp_path / "drop")
    schema = "vec_id long, embedding array<float>"
    spark.createDataFrame(batch1, schema).repartition(1).write.parquet(drop)
    spark.createDataFrame(batch2, schema).repartition(1).write.mode(
        "append"
    ).parquet(drop)

    def run(ck: str):
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(drop)
        )
        q = (
            stream_semantic_dedup_gate(stream, idx, str(tmp_path / "out"))
            .option("checkpointLocation", str(tmp_path / ck))
            .trigger(availableNow=True)
            .start()
        )
        await_stream_done(q)
        q.stop()

    run("ck1")
    admitted = set(
        spark.read.parquet(str(tmp_path / "out")).toPandas().vec_id
    )
    assert admitted == {900002, 900004}, admitted
    members = spark.read.parquet(os.path.join(idx, "members")).toPandas()
    assert members.vec_id.is_unique
    assert {900002, 900004} <= set(members.vec_id)
    assert not {900001, 900003} & set(members.vec_id)

    # crash-before-marker replay: durable admit decisions reused
    for m in os.listdir(os.path.join(idx, "manifest")):
        os.remove(os.path.join(idx, "manifest", m))
    run("ck2")
    replayed = spark.read.parquet(str(tmp_path / "out")).toPandas()
    assert set(replayed.vec_id) == {900002, 900004}
    assert replayed.vec_id.is_unique
    members2 = spark.read.parquet(os.path.join(idx, "members")).toPandas()
    assert members2.vec_id.is_unique
    assert len(members2) == len(members)


def test_stream_semantic_dedup_gate_bootstrap_batch_twin(spark, tmp_path):
    """Bootstrap path (no prior index): the gate's admit set over two
    micro-batches equals a pure-Python fold of the same algorithm —
    exact cosine vs everything admitted so far, first batch electing
    the centroids. Planted two-cluster geometry keeps the IVF probe
    exact (a copy's nearest centroid is its source's cell)."""
    import numpy as np

    from cdk_serverless_data_lake_sandbox_spark.streaming.jobs import (
        stream_semantic_dedup_gate,
    )
    from tests.conftest import await_stream_done

    rng = np.random.default_rng(3)
    base = rng.standard_normal((6, 16))
    base /= np.linalg.norm(base, axis=1, keepdims=True)

    def jitter(i, eps):
        v = base[i] + eps * rng.standard_normal(16)
        return (v / np.linalg.norm(v)).astype(np.float32).tolist()

    batch1 = [(i, jitter(i, 0.0)) for i in range(4)]  # 4 distinct seeds
    batch2 = [
        (10, jitter(0, 0.05)),  # near base 0 -> drop
        (11, jitter(4, 0.0)),   # novel -> admit
        (12, jitter(1, 0.05)),  # near base 1 -> drop
        (13, jitter(5, 0.0)),   # novel -> admit
    ]

    # pure-Python fold of the same admit rule (exact cosine >= 0.9
    # against everything admitted so far; batch 1 all-admit after
    # vec_id dedup)
    admitted_ref = [v for _, v in batch1]
    expect = {i for i, _ in batch1}
    for vid, v in batch2:
        cos = max(
            float(np.dot(v, a) / (np.linalg.norm(v) * np.linalg.norm(a)))
            for a in admitted_ref
        )
        if cos < 0.9:
            admitted_ref.append(v)
            expect.add(vid)

    drop = str(tmp_path / "drop")
    schema = "vec_id long, embedding array<float>"
    spark.createDataFrame(batch1, schema).repartition(1).write.parquet(drop)
    spark.createDataFrame(batch2, schema).repartition(1).write.mode(
        "append"
    ).parquet(drop)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(drop)
    )
    q = (
        stream_semantic_dedup_gate(
            stream, str(tmp_path / "idx"), str(tmp_path / "out")
        )
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    await_stream_done(q)
    q.stop()
    got = set(spark.read.parquet(str(tmp_path / "out")).toPandas().vec_id)
    assert expect == {0, 1, 2, 3, 11, 13}  # the fold found the planted truth
    assert got == expect, (got, expect)
