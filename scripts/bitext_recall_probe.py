"""Measure bitext_margin_mining_lsh recall vs the exact C136 miner in
the ENGAGED-guard regime (adaptive planes > 4 AND the 256-member
posting cap truncating) — the tier the r9 verdict flagged as vouched
for only where the guards are inert.

Runs on the planted corpus from tests/bitext_fixtures.py (per-side
count past the occupancy gate; one tight hub cluster floods its bucket
past the cap; loose background clusters carry the mineable pairs) and
writes SOAK_r10_bitext_recall.json.

Usage: python scripts/bitext_recall_probe.py [out.json]
"""

from __future__ import annotations

import json
import sys
import tempfile
import time

sys.path.insert(0, ".")

from pyspark.sql import functions as F  # noqa: E402

from cdk_serverless_data_lake_sandbox_spark.operators.similarity import (  # noqa: E402
    _BITEXT_MAX_POSTING,
    _N_PLANES,
    _bitext_planes,
    _emb,
    _emb_dim,
    _hyperplane_buckets,
    bitext_margin_mining,
    bitext_margin_mining_lsh,
)
from cdk_serverless_data_lake_sandbox_spark.session import get_spark  # noqa: E402
from tests.bitext_fixtures import mined_pairs, plant_engaged_bitext_corpus  # noqa: E402


def main() -> None:
    out_path = sys.argv[1] if len(sys.argv) > 1 else "SOAK_r10_bitext_recall.json"
    spark = get_spark(app_name="bitext-recall-probe", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    d = tempfile.mkdtemp(prefix="btx-engaged-")
    n_side = plant_engaged_bitext_corpus(d)
    planes = _bitext_planes(n_side)
    assert planes > _N_PLANES, "corpus must engage the plane gate"

    # count truncating postings with the op's own bucketing
    e = _emb(spark, d)
    dim = _emb_dim(e)
    bk = _hyperplane_buckets(e, dim, ["vec_id", "label"], planes)
    truncated = (
        bk.groupBy("tbl", "bucket", "label")
        .count()
        .where(F.col("count") > _BITEXT_MAX_POSTING)
        .count()
    )
    assert truncated > 0, "corpus must engage the posting cap"

    t0 = time.time()
    exact = mined_pairs(bitext_margin_mining(spark, d))
    exact_sec = round(time.time() - t0, 2)
    t0 = time.time()
    lsh = mined_pairs(bitext_margin_mining_lsh(spark, d))
    lsh_sec = round(time.time() - t0, 2)
    recall = round(len(exact & lsh) / max(1, len(exact)), 4)
    report = {
        "n_side": n_side,
        "planes": planes,
        "static_planes": _N_PLANES,
        "truncated_postings": truncated,
        "posting_cap": _BITEXT_MAX_POSTING,
        "exact_pairs": len(exact),
        "lsh_pairs": len(lsh),
        "recall_vs_exact": recall,
        "exact_sec": exact_sec,
        "lsh_sec": lsh_sec,
    }
    with open(out_path, "w") as fh:
        json.dump(report, fh, indent=1)
    print(json.dumps(report))


if __name__ == "__main__":
    main()
