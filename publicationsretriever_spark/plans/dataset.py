"""Training-dataset assembly over the crawl's image+caption payloads.

The crawl engine ends with an input_hint-shaped payload table
(image_id, bytes, w, h, fmt, caption, phash); a training pipeline
needs four more steps before the rows are usable as (image, caption)
pairs, and each one exists as an operator in this repo — this module
is the composition, in the order a 100 TB deployment runs it:

1. **decode audit** (operators/multimodal.decode_image_metrics):
   Arrow-batched decode of every payload; rows that fail to decode or
   whose recomputed phash disagrees with the ingest phash are dropped
   (corrupt fetches, truncated bodies, ingest bugs) and reported.
2. **near-dup clustering** (multimodal.image_dedup_assign): banded
   phash-Hamming pairs -> connected components -> cluster ids. The
   reference dedups exact md5 only (ConnSupportUtils.java:414-455);
   re-encodes of one image survive it and poison contrastive training.
3. **caption vote** (dedup.canonicalize_clusters): one caption per
   cluster (majority, deterministic ties), conflicts flagged for QA.
4. **leakage-safe split** (dedup.cluster_safe_split): train/test by a
   hash of the CLUSTER id, so no near-dup pair straddles the split.

Every step is a DataFrame plan: the audit is one mapInPandas pass, the
clustering is banded (never all-pairs), the vote and split are keyed
aggregations/projections — nothing collects to the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import canonicalize_clusters, cluster_safe_split
from ..operators.multimodal import (
    decode_image_metrics,
    image_dedup_assign,
    image_quality_gates,
)

#: input_hint schema (BASELINE.json): the contract for `payloads`
PAYLOAD_SCHEMA = (
    "image_id string, bytes binary, w int, h int, fmt string, "
    "caption string, phash long"
)


def build_training_dataset(
    spark: SparkSession,
    payloads: DataFrame,
    test_frac: float = 0.1,
    max_hamming: int = 2,
    split_seed: str = "split-v1",
    audit: bool = True,
    gates: dict | None = None,
    redact_pii: bool = False,
    decontaminate_captions: DataFrame | None = None,
    decontaminate_w: int = 5,
    lm_score: bool = False,
    alignment_embeddings: DataFrame | None = None,
    alignment_threshold: float = 0.3,
) -> dict[str, DataFrame]:
    """Compose audit -> cluster -> caption vote -> split over an
    input_hint payload table. Returns the dataset tables:

    - ``pairs``: one (image, caption) row per near-dup CLUSTER — the
      min-id exemplar's payload carrying the cluster's canonical
      caption, plus (cluster_id, cluster_size, caption_conflict,
      split). This is the table a trainer reads.
    - ``audit_rejects``: payload rows dropped before pairing, with a
      ``reject_reason``: ``gate_<name>`` from the metadata gates,
      decode_failed / phash_mismatch from the decode audit.
    - ``conflicts``: clusters whose members carried more than one
      caption — the labeling-QA sample.

    Scale notes: the audit joins back on image_id (both sides keyed);
    the vote output is one row per cluster — at web scale most
    clusters are singletons, so it is NOT broadcastable and the joins
    stay keyed sort-merge under AQE. ``audit=False`` skips the decode
    pass (when a separate ingest audit already ran).
    """
    cols = ["image_id", "bytes", "w", "h", "fmt", "caption", "phash"]
    payloads = payloads.select(*cols)

    gate_rejects = spark.createDataFrame(
        [],
        "image_id string, fmt string, phash long, phash_check long, "
        "reject_reason string",
    )
    if gates is not None:
        # metadata-level gates run BEFORE the decode pass: pure column
        # expressions, so at scale the rejected rows never reach the
        # Python decode UDF. ``gates`` is the image_quality_gates
        # kwargs ({} = LAION-ish defaults); None (default) skips —
        # thresholds are corpus policy, not something to guess.
        gated = image_quality_gates(
            payloads.withColumn("byte_len", F.length("bytes")), **gates
        )
        gate_rejects = gated.filter(~F.col("keep")).select(
            "image_id",
            "fmt",
            "phash",
            F.lit(None).cast("long").alias("phash_check"),
            F.concat(F.lit("gate_"), F.col("reject_reason")).alias(
                "reject_reason"
            ),
        )
        payloads = gated.filter(F.col("keep")).select(*cols)

    if audit:
        # one decode pass TOTAL: the metrics frame (per-image scalars,
        # tiny next to the payload bytes) is eagerly materialized, so
        # the audit's mapInPandas decode never re-runs — downstream
        # consumers (clean feeds the clustering, the vote, the exemplar
        # scan, and the job writes its three output tables
        # CONCURRENTLY) all join against the checkpointed scalars and
        # re-scan `payloads` for bytes, which is a cheap source scan
        # when payloads is a table. Callers passing a payloads frame
        # that is itself an expensive derived plan should materialize
        # it first (repo convention: every fan-out point is eager —
        # racing consumers otherwise duplicate the Python decode work).
        metrics = (
            decode_image_metrics(payloads)
            .select(
                "image_id",
                F.col("decode_ok"),
                F.col("phash_check"),
            )
            .localCheckpoint(eager=True)
        )
        checked = payloads.join(metrics, "image_id")
        # coalesce to a two-valued condition: a NULL phash (or a NULL
        # decode flag) would make BOTH filters three-valued-NULL and
        # the row would vanish from clean AND audit_rejects — every
        # drop must leave an audit row
        ok = F.coalesce(
            F.col("decode_ok")
            & F.col("phash_check").eqNullSafe(F.col("phash")),
            F.lit(False),
        )
        clean = checked.filter(ok).select(*cols)
        audit_rejects = checked.filter(~ok).select(
            "image_id",
            "fmt",
            "phash",
            "phash_check",
            F.when(
                ~F.coalesce(F.col("decode_ok"), F.lit(False)),
                F.lit("decode_failed"),
            )
            .otherwise(F.lit("phash_mismatch"))
            .alias("reject_reason"),
        )
    else:
        clean = payloads
        audit_rejects = spark.createDataFrame(
            [],
            "image_id string, fmt string, phash long, phash_check long, "
            "reject_reason string",
        )

    assign = image_dedup_assign(clean, max_hamming=max_hamming).select(
        "image_id", "cluster_id"
    )
    with_cluster = clean.join(assign, "image_id")

    vote = canonicalize_clusters(
        with_cluster.select("image_id", "cluster_id", "caption"),
        "cluster_id",
        "image_id",
        ["caption"],
    )
    vote = cluster_safe_split(
        vote, "cluster_id", test_frac=test_frac, seed=split_seed
    )

    # rename the payload side: vote and the exemplar scan share the
    # `clean` lineage, and Spark rejects the ambiguous self-join
    exemplar = with_cluster.select(
        F.col("image_id").alias("_ex_id"),
        "bytes",
        "w",
        "h",
        "fmt",
        "phash",
    )
    caption_out = F.col("canonical_caption")
    if redact_pii:
        # the caption ships in the training set — scrub it at the
        # last projection (textstats.pii_redact semantics: fixed
        # email -> ipv4 -> phone order on progressively-redacted text)
        from ..operators.textstats import PII_EMAIL, PII_IPV4, PII_PHONE

        caption_out = F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(caption_out, PII_EMAIL, "<EMAIL>"),
                PII_IPV4,
                "<IP>",
            ),
            PII_PHONE,
            "<PHONE>",
        )
    pairs = (
        vote.join(exemplar, vote["canonical_image_id"] == F.col("_ex_id"))
        .select(
            F.col("_ex_id").alias("image_id"),
            "bytes",
            "w",
            "h",
            "fmt",
            caption_out.alias("caption"),
            "phash",
            "cluster_id",
            "cluster_size",
            "caption_conflict",
            "split",
        )
    )
    if decontaminate_captions is not None:
        # benchmark decontamination on the SHIPPED caption (post-vote,
        # post-redaction): any pair whose final caption shares a
        # w-token span with the held-out eval captions is routed to
        # audit_rejects instead of the training table. Eval captions
        # broadcast inside the operator — the pairs side never
        # shuffles for the check. w defaults to 5 (captions are short;
        # the document-corpus default of 13 rarely fires on them).
        from ..operators.dedup import decontaminate

        decon = decontaminate(
            pairs.select("image_id", "caption"),
            decontaminate_captions.select("caption"),
            "caption",
            "image_id",
            w=decontaminate_w,
        ).select("image_id", "contaminated")
        pairs = pairs.join(decon, "image_id")
        gate_rejects = gate_rejects.unionByName(
            pairs.filter(F.col("contaminated")).select(
                "image_id",
                "fmt",
                "phash",
                F.lit(None).cast("long").alias("phash_check"),
                F.lit("eval_overlap").alias("reject_reason"),
            )
        )
        pairs = pairs.filter(~F.col("contaminated")).drop("contaminated")

    if alignment_embeddings is not None:
        # image-text alignment gate (similarity.alignment_gate_paired):
        # embeddings come from an external encoder keyed by image_id
        # (no encoder lives in-engine — swap-point like the codecs),
        # one row per pair with BOTH vectors, so scoring needs no join
        # and the only movement is the keyed join back to the
        # exemplars. Running it post-dedup means only exemplars are
        # checked, not the collapsed near-dup mass. Pairs WITHOUT an
        # embedding row, or with a null score (a null or zero-norm
        # vector), pass (encoder coverage lags ingest; dropping them
        # would silently empty a fresh corpus) — audit them upstream
        # if coverage is a contract.
        from ..operators.similarity import alignment_gate_paired

        align = alignment_gate_paired(
            alignment_embeddings, "image_id", threshold=alignment_threshold,
        ).select("image_id", F.col("keep").alias("_aligned"))
        pairs = pairs.join(align, "image_id", "left")
        misaligned = F.col("_aligned") == F.lit(False)
        gate_rejects = gate_rejects.unionByName(
            pairs.filter(misaligned).select(
                "image_id",
                "fmt",
                "phash",
                F.lit(None).cast("long").alias("phash_check"),
                F.lit("misaligned").alias("reject_reason"),
            )
        )
        pairs = pairs.filter(~misaligned | F.col("_aligned").isNull()).drop(
            "_aligned"
        )

    if lm_score:
        # caption LM quality column (textstats.lm_quality_score,
        # corpus-self-trained bigram MLE over the SHIPPED captions —
        # bigrams because captions are short): near-0 = templated /
        # corpus-typical caption, strongly negative = unusual word
        # sequence. A column, not a gate — thresholds are corpus
        # policy, downstream filters decide.
        from ..operators.textstats import lm_quality_score

        lm = lm_quality_score(
            pairs.select("image_id", "caption"), "caption", "image_id",
            n=2,
        ).select(
            "image_id",
            F.col("mean_log10_prob").alias("caption_lm_log10"),
        )
        pairs = pairs.join(lm, "image_id", "left")

    conflicts = vote.filter(F.col("caption_conflict")).select(
        "cluster_id",
        "cluster_size",
        "canonical_image_id",
        "canonical_caption",
        "n_caption",
    )
    return {
        "pairs": pairs,
        "audit_rejects": gate_rejects.unionByName(audit_rejects),
        "conflicts": conflicts,
    }
