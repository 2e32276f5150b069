"""End-to-end training-dataset assembly (plans/dataset.py +
jobs/dataset_job.py): decode audit -> phash near-dup clusters ->
caption vote -> leakage-safe split, committed as a snapshot."""

from __future__ import annotations

import json
import sys

import numpy as np
from pyspark.sql import functions as F

from publicationsretriever_spark.sources.imagecodec import (
    encode_png,
    make_payload_row,
    phash64,
    synth_pixels,
)


def _twin(base: dict, image_id: str, caption: str) -> dict:
    """A re-encode of ``base`` within hamming<=2 of its phash."""
    px = synth_pixels(base["image_id"], base["w"], base["h"]).astype(np.int32)
    for blk in range(8):
        px2 = px.copy()
        px2[0 : 2 * (blk + 1), 0:2, :] = 255
        h2 = phash64(np.clip(px2, 0, 255).astype(np.uint8))
        dist = bin((h2 ^ base["phash"]) & ((1 << 64) - 1)).count("1")
        if 1 <= dist <= 2:
            px8 = np.clip(px2, 0, 255).astype(np.uint8)
            row = dict(base)
            row["image_id"] = image_id
            row["bytes"] = encode_png(px8)  # re-encode: audit recomputes
            row["phash"] = h2
            row["caption"] = caption
            return row
    raise AssertionError("twin construction failed")


def test_build_training_dataset_pipeline(spark):
    """Planted near-dup twins with conflicting captions collapse to one
    pairs row carrying the majority caption; corrupt bytes and
    phash-mismatched ingests land in audit_rejects with the right
    reason; the split never straddles a cluster."""
    from publicationsretriever_spark.plans.dataset import (
        PAYLOAD_SCHEMA,
        build_training_dataset,
    )

    base = make_payload_row("img-a0", w=16, h=16)
    base["caption"] = "a cat"
    t1 = _twin(base, "img-a1", "a cat")
    t2 = _twin(base, "img-a2", "le chat")
    lone = make_payload_row("img-lone", w=16, h=16)
    lone["caption"] = "a dog"
    corrupt = make_payload_row("img-corrupt", w=16, h=16)
    corrupt["bytes"] = b"\x89PNG but not really"
    lying = make_payload_row("img-lying", w=16, h=16)
    lying["phash"] = lying["phash"] ^ 0xFFFF  # ingest phash is wrong
    rows = [base, t1, t2, lone, corrupt, lying]
    df = spark.createDataFrame(
        [tuple(r[c] for c in (
            "image_id", "bytes", "w", "h", "fmt", "caption", "phash"
        )) for r in rows],
        PAYLOAD_SCHEMA,
    )

    tables = build_training_dataset(spark, df, test_frac=0.3)
    rejects = {
        r["image_id"]: r["reject_reason"]
        for r in tables["audit_rejects"].collect()
    }
    assert rejects == {
        "img-corrupt": "decode_failed",
        "img-lying": "phash_mismatch",
    }

    pairs = {r["cluster_id"]: r for r in tables["pairs"].collect()}
    assert set(pairs) == {"img-a0", "img-lone"}
    fam = pairs["img-a0"]
    assert fam["cluster_size"] == 3
    assert fam["image_id"] == "img-a0"  # min-id exemplar's payload
    assert fam["caption"] == "a cat"    # majority 2-1 over "le chat"
    assert fam["caption_conflict"]
    assert fam["split"] in ("train", "test")
    solo = pairs["img-lone"]
    assert solo["cluster_size"] == 1 and not solo["caption_conflict"]

    conflicts = tables["conflicts"].collect()
    assert len(conflicts) == 1 and conflicts[0]["cluster_id"] == "img-a0"
    assert conflicts[0]["n_caption"] == 2


def test_dataset_job_from_crawl_cli(spark, tmp_path, monkeypatch, capsys):
    """The production flow end-to-end: crawl_job commits a crawl
    snapshot, dataset_job reads its fetched payload ids, assembles the
    dataset, and commits an atomic snapshot of pairs/audit_rejects/
    conflicts. Every fetched payload decodes (the synthetic store is
    clean), every pair's caption is non-null, and train+test cover all
    clusters."""
    import jobs.crawl_job as crawl_job
    import jobs.dataset_job as dataset_job

    crawl_dir = str(tmp_path / "crawl")
    monkeypatch.setattr(sys, "argv", [
        "crawl_job.py", "--catalog", crawl_dir,
        "--rounds", "1", "--hosts", "3", "--pages-max", "6",
    ])
    assert crawl_job.main() == 0
    capsys.readouterr()

    out_dir = str(tmp_path / "dataset")
    wds_dir = str(tmp_path / "wds")
    monkeypatch.setattr(sys, "argv", [
        "dataset_job.py", "--out", out_dir,
        "--from-crawl", crawl_dir,
        "--hosts", "3", "--pages-max", "6",
        "--test-frac", "0.25",
        "--wds-out", wds_dir, "--wds-shard-bytes", "8192",
        "--aspect-buckets", "4",
    ])
    assert dataset_job.main() == 0
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["tables"]["audit_rejects"] == 0
    assert summary["tables"]["pairs"] > 0

    from publicationsretriever_spark.sources.catalog import SnapshotCatalog

    _, tables = SnapshotCatalog(out_dir).load(spark)
    pairs = tables["pairs"]
    assert pairs.filter(pairs["caption"].isNull()).count() == 0
    assert pairs.filter(~pairs["split"].isin("train", "test")).count() == 0
    # one row per cluster
    n = pairs.count()
    assert pairs.select("cluster_id").distinct().count() == n

    # aspect-bucket batch columns: per split, ranks within a bucket
    # are a 0..k bijection and batches are rank//4
    for c in ("bucket_idx", "bucket_w", "bucket_h",
              "rank_in_bucket", "batch_idx"):
        assert c in pairs.columns, c
    for split in ("train", "test"):
        sub = pairs.filter(pairs["split"] == split).collect()
        per_bucket = {}
        for r in sub:
            per_bucket.setdefault(r["bucket_idx"], []).append(
                r["rank_in_bucket"]
            )
            assert r["batch_idx"] == r["rank_in_bucket"] // 4
        for ranks in per_bucket.values():
            assert sorted(ranks) == list(range(len(ranks)))

    # the packed loader-facing form covers every committed pair,
    # split by split, and round-trips payload+caption exactly
    from publicationsretriever_spark.sources.webdataset import (
        read_webdataset,
    )

    assert summary["wds"]["train"]["samples"] + summary["wds"]["test"][
        "samples"
    ] == n
    for split in ("train", "test"):
        want = {
            (r["image_id"], bytes(r["bytes"]), r["caption"])
            for r in pairs.filter(pairs["split"] == split).collect()
        }
        if not want:
            assert summary["wds"][split]["samples"] == 0
            continue
        got = {
            (r["image_id"], bytes(r["bytes"]), r["caption"])
            for r in read_webdataset(
                spark, str(tmp_path / "wds" / split)
            ).collect()
        }
        assert got == want


def test_dataset_redact_pii_captions(spark):
    """redact_pii scrubs the SHIPPED caption only — cluster voting and
    conflict detection still run on the raw captions."""
    from publicationsretriever_spark.plans.dataset import (
        build_training_dataset,
    )
    from publicationsretriever_spark.sources.imagecodec import (
        make_payload_row,
    )

    rows = [
        make_payload_row("img-0", 0),
        make_payload_row("img-1", 1),
    ]
    df = spark.createDataFrame(
        rows,
        "image_id string, bytes binary, w int, h int, fmt string, "
        "caption string, phash long",
    )
    df = df.withColumn(
        "caption",
        F.concat(F.col("caption"), F.lit(" mail bob@example.org")),
    )
    out = build_training_dataset(spark, df, audit=False, redact_pii=True)
    caps = [r["caption"] for r in out["pairs"].collect()]
    assert caps and all("<EMAIL>" in c for c in caps)
    assert not any("bob@example.org" in c for c in caps)


def test_dataset_decontaminate_captions(spark):
    """Pairs whose SHIPPED caption shares a span with the held-out
    eval captions are routed to audit_rejects (eval_overlap), not the
    training table."""
    from publicationsretriever_spark.plans.dataset import (
        build_training_dataset,
    )
    from publicationsretriever_spark.sources.imagecodec import (
        make_payload_row,
    )

    rows = [
        make_payload_row("img-0", 0),
        make_payload_row("img-1", 1),
    ]
    df = spark.createDataFrame(
        rows,
        "image_id string, bytes binary, w int, h int, fmt string, "
        "caption string, phash long",
    )
    ev = spark.createDataFrame(
        [("caption of img-0",)], "caption string"
    )
    out = build_training_dataset(
        spark, df, audit=False,
        decontaminate_captions=ev, decontaminate_w=3,
    )
    pair_ids = {r["image_id"] for r in out["pairs"].collect()}
    rejects = {
        r["image_id"]: r["reject_reason"]
        for r in out["audit_rejects"].collect()
    }
    assert pair_ids == {"img-1"}
    assert rejects.get("img-0") == "eval_overlap"


def test_dataset_lm_score_column(spark):
    """lm_score attaches caption_lm_log10 to pairs: a repeated caption
    scores higher (closer to 0) than a one-off."""
    from publicationsretriever_spark.plans.dataset import (
        build_training_dataset,
    )
    from publicationsretriever_spark.sources.imagecodec import (
        make_payload_row,
    )

    rows = [
        make_payload_row("img-0", 0),
        make_payload_row("img-1", 1),
    ]
    df = spark.createDataFrame(
        rows,
        "image_id string, bytes binary, w int, h int, fmt string, "
        "caption string, phash long",
    )
    # img-0 keeps the templated caption; img-1 gets a one-off ending
    df = df.withColumn(
        "caption",
        F.when(
            F.col("image_id") == "img-1",
            F.lit("caption of something very different entirely"),
        ).otherwise(F.col("caption")),
    )
    out = build_training_dataset(spark, df, audit=False, lm_score=True)
    got = {
        r["image_id"]: r["caption_lm_log10"]
        for r in out["pairs"].collect()
    }
    assert set(got) == {"img-0", "img-1"}
    assert all(v is not None for v in got.values())
    # exact bigram MLE over the two shipped captions:
    # img-0 = mean(log10(2/2), log10(1/2))       -> -0.150515
    # img-1 = mean(log10(2/2), log10(1/2), 0,0,0) -> -0.060206
    # (singleton contexts score log10(1)=0 — self-trained MLE is a
    # corpus-typicality signal, not raw length-penalized perplexity)
    import math

    assert got["img-0"] == round(math.log10(1 / 2) / 2, 6)
    assert got["img-1"] == round(math.log10(1 / 2) / 5, 6)


def test_dataset_alignment_gate(spark):
    """Pairs whose image/caption embedding cosine falls below the
    threshold are routed to audit_rejects (misaligned); pairs with NO
    embedding row pass (encoder coverage lags ingest), and so does a
    pair with a zero embedding (no cosine: null score, not a
    misalignment)."""
    from publicationsretriever_spark.plans.dataset import (
        build_training_dataset,
    )
    from publicationsretriever_spark.sources.imagecodec import (
        make_payload_row,
    )

    rows = [
        make_payload_row("img-0", 0),   # aligned (cos 1.0)
        make_payload_row("img-1", 1),   # misaligned (cos 0.0)
        make_payload_row("img-2", 2),   # no embedding row -> passes
        make_payload_row("img-3", 3),   # zero image embedding -> passes
    ]
    df = spark.createDataFrame(
        rows,
        "image_id string, bytes binary, w int, h int, fmt string, "
        "caption string, phash long",
    )
    emb = spark.createDataFrame(
        [
            ("img-0", [1.0, 0.0], [1.0, 0.0]),
            ("img-1", [1.0, 0.0], [0.0, 1.0]),
            ("img-3", [0.0, 0.0], [1.0, 0.0]),
        ],
        "image_id string, image_embedding array<float>, "
        "caption_embedding array<float>",
    )
    out = build_training_dataset(
        spark, df, audit=False,
        alignment_embeddings=emb, alignment_threshold=0.3,
    )
    pair_ids = {r["image_id"] for r in out["pairs"].collect()}
    rejects = {
        r["image_id"]: r["reject_reason"]
        for r in out["audit_rejects"].collect()
    }
    assert pair_ids == {"img-0", "img-2", "img-3"}
    assert rejects.get("img-1") == "misaligned"
    assert "img-3" not in rejects


def test_dataset_job_zorder_stage(spark, tmp_path, monkeypatch, capsys):
    """--zorder phash,w commits a z-clustered pairs table plus a
    pairs_manifest stats table whose per-file min/max bboxes cover
    every pair and prune soundly (a phash box predicate never loses
    a matching row to a pruned file)."""
    import jobs.dataset_job as dataset_job

    out_dir = str(tmp_path / "dataset_z")
    monkeypatch.setattr(sys, "argv", [
        "dataset_job.py", "--out", out_dir,
        "--hosts", "3", "--pages-max", "6",
        "--zorder", "phash,w", "--zorder-file-bits", "3",
    ])
    assert dataset_job.main() == 0
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["tables"]["pairs"] > 0
    assert summary["tables"]["pairs_manifest"] > 0

    from publicationsretriever_spark.operators.packing import (
        prune_manifest,
    )
    from publicationsretriever_spark.sources.catalog import SnapshotCatalog

    _, tables = SnapshotCatalog(out_dir).load(spark)
    pairs = tables["pairs"]
    man = tables["pairs_manifest"]
    assert "_file" in pairs.columns and "_z" in pairs.columns
    rows = pairs.select("phash", "w", "_file").collect()
    stats = {r["file"]: r for r in man.collect()}
    # manifest bboxes cover the data they claim to cover
    for r in rows:
        s = stats[r["_file"]]
        assert s["min_phash"] <= r["phash"] <= s["max_phash"]
        assert s["min_w"] <= r["w"] <= s["max_w"]
    # pruning soundness on a phash box predicate
    lo = min(r["phash"] for r in rows)
    hi = lo + max(1, (max(r["phash"] for r in rows) - lo) // 8)
    kept = {r["file"] for r in
            prune_manifest(man, {"phash": (lo, hi)}).collect()}
    for r in rows:
        if lo <= r["phash"] <= hi:
            assert r["_file"] in kept
