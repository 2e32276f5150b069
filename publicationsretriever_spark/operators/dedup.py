"""Deduplication operator family for large-scale training-data pipelines.

The reference dedups exact payloads by md5
(ConnSupportUtils.checkAndHandleDuplicateHash,
util/http/ConnSupportUtils.java:414-455) and URLs by a seen-set; a
100 TB corpus needs the near-duplicate family as well. All operators
are pure DataFrame compositions (shuffle-conscious: the LSH variants
band-bucket BEFORE the pair join so the join key is the bucket, never
the full cross product).

Portability note: hashes are md5-based (not xxhash64) so every operator
here has an exact DuckDB-SQL oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation, Window
from pyspark.sql import functions as F


def _words(text: Column) -> Column:
    """Lowercased whitespace tokens. Project this into an attribute
    BEFORE building per-position expressions over it: a non-attribute
    expression referenced inside a higher-order-function lambda is
    re-evaluated PER ELEMENT, so slice(split(text), i, k) inside a
    transform tokenizes the document once per position — O(tokens²)
    chars per doc (measured 11x slower at sf0.1)."""
    return F.split(F.lower(F.trim(text)), "\\s+")


def _shingles(words: Column, k: int = 3) -> Column:
    """Word k-shingles as an array column. ``words`` must be an
    already-projected attribute (see _words), never an inline
    split(...) expression — the lambda below reads it per element."""
    n = F.size(words) - (k - 1)
    shingled = F.transform(
        F.sequence(F.lit(0), n - 1),
        lambda i: F.concat_ws(" ", F.slice(words, i + 1, k)),
    )
    # guard: sequence(0, -1) DESCENDS in Spark; short texts get no shingles
    return F.when(n > 0, shingled).otherwise(F.array().cast("array<string>"))


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Exact dedup: md5 hash-groupBy; winner = min(id). Adds
    (content_hash, is_canonical, canonical_id)."""
    h = F.md5(F.col(text_col))
    w = Window.partitionBy("content_hash")
    return (
        df.withColumn("content_hash", h)
        .withColumn("canonical_id", F.min(id_col).over(w))
        .withColumn("is_canonical", F.col(id_col) == F.col("canonical_id"))
    )


def minhash_signatures(
    df: DataFrame, text_col: str, id_col: str, num_hashes: int = 16, k: int = 3
) -> DataFrame:
    """MinHash signatures: for seed i, sig_i = min over shingles of
    md5(i || shingle) (string min — portable & deterministic). One
    explode + groupBy; partial aggregation (map-side min) keeps the
    shuffle small."""
    ex = df.select(id_col, _words(F.col(text_col)).alias("_w")).select(
        id_col, F.explode(_shingles(F.col("_w"), k)).alias("sh")
    )
    aggs = [
        F.min(F.md5(F.concat(F.lit(f"{i}|"), F.col("sh")))).alias(f"mh{i}")
        for i in range(num_hashes)
    ]
    return ex.groupBy(id_col).agg(*aggs)


def minhash_band_index(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 16,
    bands: int = 4,
    k: int = 3,
) -> DataFrame:
    """The persistable LSH band index: one row per (id, band, band_hash).

    This is the artifact an incremental pipeline WRITES once per corpus
    snapshot (partitioned by ``band`` — each band's buckets co-locate)
    and then reuses for every new ingest batch via
    :func:`incremental_neardup_pairs`.  At 10^10 documents the index is
    ~bands x n rows of (id, tinyint, 32-hex) — a few hundred GB — while
    the corpus text it replaces is ~100 TB; re-mining shingles over the
    whole corpus per daily batch is the thing this avoids.
    """
    sigs = minhash_signatures(df, text_col, id_col, num_hashes, k)
    rows_per_band = num_hashes // bands
    band_cols = []
    for b in range(bands):
        cols = [
            F.col(f"mh{i}")
            for i in range(b * rows_per_band, (b + 1) * rows_per_band)
        ]
        band_cols.append(
            F.struct(
                F.lit(b).alias("band"),
                F.md5(F.concat_ws("|", *cols)).alias("bh"),
            )
        )
    return sigs.select(
        F.col(id_col), F.explode(F.array(*band_cols)).alias("b")
    ).select(id_col, F.col("b.band").alias("band"), F.col("b.bh").alias("bh"))


def incremental_neardup_pairs(
    batch: DataFrame,
    index: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 16,
    bands: int = 4,
    k: int = 3,
    broadcast_batch: bool = True,
) -> DataFrame:
    """Dedup a NEW ingest batch against a persisted corpus band index
    (:func:`minhash_band_index` output) plus within the batch itself —
    the only affordable dedup cadence at 100 TB: the corpus text is
    never rescanned, only its index is joined.

    The reference has no incremental path (its dedup is an in-memory
    exact-hash set per run, util/http/ConnSupportUtils.java:414-455);
    a crawl that ingests daily needs one.

    Scale shape: with ``broadcast_batch`` (default) the batch's banded
    rows — ~bands x |batch| short rows — broadcast to every index
    partition, so the 10^10-row corpus index is scanned in place with
    NO shuffle at all; partition-pruning on ``band`` still applies.
    Set it False when the batch itself is huge (> a few 10^7 docs) and
    let the (band, bh) shuffle-hash join handle it.

    Returns (batch_id, match_id, n_shared_bands, vs) where
    ``vs='corpus'`` rows pair a batch doc with an indexed corpus doc
    and ``vs='batch'`` rows pair two batch docs (batch_id < match_id).
    """
    # the batch index feeds THREE plan subtrees (the corpus join's
    # broadcast side and both sides of the batch self-join); an eager
    # cut materializes the tokenize + shingle + 16-hash signature work
    # once instead of three times per action. Batch-sized by the
    # operator's own contract, so the checkpoint is small.
    b = minhash_band_index(
        batch, text_col, id_col, num_hashes, bands, k
    ).localCheckpoint(eager=True)
    bl = F.broadcast(b) if broadcast_batch else b
    n, c = bl.alias("n"), index.alias("c")
    vs_corpus = (
        c.join(
            n,
            (F.col("n.band") == F.col("c.band"))
            & (F.col("n.bh") == F.col("c.bh")),
        )
        .groupBy(
            F.col(f"n.{id_col}").alias("batch_id"),
            F.col(f"c.{id_col}").alias("match_id"),
        )
        .agg(F.count(F.lit(1)).alias("n_shared_bands"))
        .withColumn("vs", F.lit("corpus"))
    )
    a2, b2 = b.alias("a"), b.alias("b")
    vs_batch = (
        a2.join(
            b2,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bh") == F.col("b.bh")),
        )
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .groupBy(
            F.col(f"a.{id_col}").alias("batch_id"),
            F.col(f"b.{id_col}").alias("match_id"),
        )
        .agg(F.count(F.lit(1)).alias("n_shared_bands"))
        .withColumn("vs", F.lit("batch"))
    )
    return vs_corpus.unionByName(vs_batch)


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 16,
    bands: int = 4,
    k: int = 3,
) -> DataFrame:
    """MinHash + LSH candidate pairs: band the signature (rows_per_band =
    num_hashes/bands), bucket-join on (band_idx, band_hash). Scale path:
    the self-join key is the band bucket — cardinality ~n*bands, never
    n^2. Returns distinct candidate pairs (id_a < id_b, n_shared_bands).
    """
    # both sides of the self-join reference the band index — an eager
    # cut materializes the tokenize + shingle + num_hashes-way
    # signature work once instead of twice per action (Spark does not
    # dedupe common subplans)
    banded = minhash_band_index(
        df, text_col, id_col, num_hashes, bands, k
    ).localCheckpoint(eager=True)
    a = banded.alias("a")
    b = banded.alias("b")
    pairs = (
        a.join(b, (F.col("a.band") == F.col("b.band")) & (F.col("a.bh") == F.col("b.bh")))
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .agg(F.count(F.lit(1)).alias("n_shared_bands"))
    )
    return pairs


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 3,
    threshold: float = 0.8,
    df_mode: str = "collect",
) -> DataFrame:
    """EXACT n-gram Jaccard >= threshold via PREFIX FILTERING (the
    All-Pairs/PPJoin technique): order every document's shingles by
    global rarity (doc-frequency asc, shingle asc — a canonical total
    order), and self-join only each document's PREFIX of length
    |A| - ceil(t*|A|) + 1.

    Exactness: if J(A,B) >= t, let c be the smallest common shingle in
    the canonical order. Were c outside A's prefix, A would have
    >= |A| - ceil(t|A|) + 1 shingles smaller than c and (c minimal)
    none of them in B, so |A∩B| <= ceil(t|A|) - 1 < t|A| <= t|A∪B| —
    contradiction. Hence c sits in BOTH prefixes and the prefix-prefix
    join finds every qualifying pair; false candidates are removed by
    the exact array_intersect score.

    Scale: the join key is a RARE shingle by construction (prefixes are
    the lowest-doc-frequency shingles), so no quadratic bucket can form
    from boilerplate like "of the university of" — the failure mode of
    the naive all-shingle self-join. PPJoin's length filter
    (min >= t*max) and positional filter (suffix bound vs the
    equivalent-overlap threshold) prune candidates before the distinct.
    Everything is JVM-side (explode / groupBy / array_sort /
    array_intersect); exact intersections are computed per candidate
    pair from the docs' sorted shingle arrays, never by re-joining the
    full shingle table.

    Shingles are hashed to int64 (xxhash64) IMMEDIATELY after
    extraction, so every shuffle, sort, join key and set element
    downstream is a fixed 8-byte long instead of a variable-length
    string — the doc-frequency buffers, canonical-order sort and
    array_intersect all shrink accordingly. Correctness: the final
    output depends only on per-doc shingle SETS (exact intersection /
    union sizes); the canonical rarity order merely selects prefixes,
    which affects candidate generation, never the post-filter result.
    So any hash that is injective on the realized shingle set yields
    byte-identical output; a 64-bit collision (P ~ n^2/2^64 — ~1e-8
    even at 10^10 distinct shingles... per pair of shingles, union
    bound ~ n^2/2^65 overall) could merge two shingles and perturb one
    count.

    ``df_mode`` picks the doc-frequency formulation:

    - ``"collect"`` (default): one groupBy collects (count, id-list)
      per shingle then re-explodes — two shuffles, measured fastest at
      test scale, but the per-shingle id list is a SINGLE in-memory
      aggregation buffer (~8 bytes x M for a shingle shared by M
      documents) that cannot spill — fine through M ~ 10^7.
    - ``"join"``: the scale path. The shingle table is materialized
      once (eager localCheckpoint), doc-frequency is a plain
      groupBy().count() — map-side partial aggregation makes a hot
      shingle combine LOCALLY on every partition, so no task ever
      sees more than (#partitions) partial counts — and the counts
      join back onto the checkpointed table (AQE skew-join splits a
      hot shingle's probe rows; the counts side is one row per
      DISTINCT shingle and often broadcasts). No unbounded buffer
      anywhere; the checkpoint costs one linear materialization of
      the shingle table, which is why it is not the default at test
      scale.

    Both modes produce byte-identical output (the df values are equal;
    everything downstream is deterministic in them).
    """
    if df_mode not in ("collect", "join"):
        raise ValueError(f"df_mode must be 'collect' or 'join', got {df_mode!r}")
    sh = df.select(
        F.col(id_col), _words(F.col(text_col)).alias("_w")
    ).select(
        F.col(id_col),
        F.explode(
            F.transform(
                F.array_distinct(_shingles(F.col("_w"), k)),
                lambda s: F.xxhash64(s),
            )
        ).alias("sh"),
    )
    if df_mode == "join":
        # scale path: checkpoint kills the probe-side re-evaluation
        # that made the naive join formulation 2x slower; the count
        # aggregate partial-combines map-side, so hot shingles never
        # concentrate rows in one task the way collect_list does
        sh = sh.localCheckpoint(eager=True)
        counts = sh.groupBy("sh").agg(F.count(F.lit(1)).alias("df_sh"))
        shdf = sh.join(counts, "sh")
    else:
        # doc-frequency WITHOUT a join back to the shingle table: one
        # groupBy collects (count, ids) per shingle, then re-explodes
        # the id list — the shingling expression runs ONCE and the plan
        # costs two shuffles instead of three
        fw = sh.groupBy("sh").agg(
            F.count(F.lit(1)).alias("df_sh"),
            F.collect_list(id_col).alias("_ids"),
        )
        shdf = fw.select("sh", "df_sh", F.explode("_ids").alias(id_col))
    # per-doc shingle array in canonical (rarity, shingle) order. The
    # sets feed three consumers (prefix explode + both join sides) but
    # need NO cache/checkpoint: AQE reuses the sets-build shuffle
    # stages across all three (canonicalized exchange reuse), so the
    # executed plan carries 4 exchanges total, not 3x the subtree —
    # measured, and strictly cheaper than the eager localCheckpoint
    # this replaced (no blocking materialization barrier, no block
    # storage; the earlier .cache() leak is moot with nothing pinned).
    sets = (
        shdf.groupBy(id_col)
        .agg(F.array_sort(F.collect_list(F.struct("df_sh", "sh"))).alias("ss"))
        .select(
            F.col(id_col),
            F.transform("ss", lambda s: s["sh"]).alias("shs"),
            F.size("ss").alias("n_sh"),
        )
    )
    prefix_len = (
        F.col("n_sh") - F.ceil(F.lit(threshold) * F.col("n_sh")) + 1
    ).cast("int")
    # prefix tokens WITH their 1-based canonical position (PPJoin's
    # positional information) and the doc's set size (length filter)
    pref = sets.select(
        F.col(id_col), F.col("n_sh"),
        F.posexplode(F.slice("shs", F.lit(1), prefix_len)).alias("p", "sh"),
    ).withColumn("p", F.col("p") + 1)
    a, b = pref.alias("a"), pref.alias("b")
    t = F.lit(threshold)
    # PPJoin filters, both EXACT given J(A,B) >= t:
    # - length: |A∩B| <= min and >= t*|A∪B| >= t*max  =>  min >= t*max
    # - positional: for the globally-rarest COMMON token (its prior
    #   tokens in each doc are absent from the other), total overlap
    #   <= 1 + min(|A|-pa, |B|-pb), which must reach the equivalent
    #   overlap threshold t/(1+t)*(|A|+|B|); a qualifying pair always
    #   survives via that first-common-token occurrence, and distinct()
    #   keeps a pair if ANY occurrence passes.
    cand = (
        a.join(b, "sh")
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .filter(
            F.least(F.col("a.n_sh"), F.col("b.n_sh"))
            >= t * F.greatest(F.col("a.n_sh"), F.col("b.n_sh"))
        )
        .filter(
            F.least(
                F.col("a.n_sh") - F.col("a.p"), F.col("b.n_sh") - F.col("b.p")
            ) + 1
            >= (t / (F.lit(1.0) + t)) * (F.col("a.n_sh") + F.col("b.n_sh"))
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .distinct()
    )
    sa = sets.select(
        F.col(id_col).alias("id_a"), F.col("shs").alias("shs_a"),
        F.col("n_sh").alias("n_a"),
    )
    sb = sets.select(
        F.col(id_col).alias("id_b"), F.col("shs").alias("shs_b"),
        F.col("n_sh").alias("n_b"),
    )
    out = (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("n_inter", F.size(F.array_intersect("shs_a", "shs_b")))
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter")), 6
            ),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return out.select("id_a", "id_b", "n_inter", "n_a", "n_b", "jaccard")


def simhash64(df: DataFrame, text_col: str, id_col: str, bits: int = 16) -> DataFrame:
    """SimHash over word tokens: per bit i, sign of sum over tokens of
    (+1 if bit_i(md5(token)) else -1). ``bits`` kept small (16) so the
    explode stays 16x tokens; md5-nibble based for oracle portability.
    Returns (id, simhash as bigint)."""
    # _words, not an inline split: a tokenizer change applied to the
    # module helper must reach simhash too, or fingerprints silently
    # desync from the minhash/ngram operators built on _words
    toks = df.select(
        F.col(id_col), F.explode(_words(F.col(text_col))).alias("t")
    )
    # token hash: first 16 hex chars of md5 -> 4 bits per nibble
    toks = toks.withColumn("th", F.substring(F.md5("t"), 1, bits // 4))
    aggs = []
    for i in range(bits):
        nibble = F.conv(F.substring(F.col("th"), i // 4 + 1, 1), 16, 10).try_cast("int")
        bit = F.shiftright(nibble, 3 - (i % 4)) % 2
        aggs.append(F.sum(F.when(bit == 1, 1).otherwise(-1)).alias(f"b{i}"))
    summed = toks.groupBy(id_col).agg(*aggs)
    sim = F.lit(0).cast("long")
    for i in range(bits):
        sim = sim + F.when(F.col(f"b{i}") > 0, F.lit(2 ** (bits - 1 - i))).otherwise(0)
    return summed.select(F.col(id_col), sim.alias("simhash"))


def hamming_neardup_pairs(
    df: DataFrame,
    id_col: str,
    hash_col: str,
    max_hamming: int = 2,
    bands: int | None = None,
    hash_bits: int = 64,
) -> DataFrame:
    """Near-duplicate pairs by Hamming distance over an integer
    fingerprint column — the image-payload dedup path for the
    input_hint's ``phash:int64`` (perceptual hash; the reference dedups
    only EXACT payload hashes, ConnSupportUtils.checkAndHandleDuplicateHash
    util/http/ConnSupportUtils.java:414-455 — near-identical re-encodes
    of the same image need a distance match).

    EXACT by pigeonhole banding: the hash is split into ``bands``
    contiguous bit bands (``bands >= max_hamming + 1``); a pair within
    ``max_hamming`` differs in at most ``max_hamming`` bands, so at
    least one band is bit-identical.  Candidates come from a bucket
    self-join on (band_idx, band_value) — the join key is the band,
    never the full cross product; at 100 TB the shuffle is
    rows x bands, and each bucket holds only hashes sharing an exact
    band value (n / 2^band_width expected) — then verified exactly with
    bit_count(xor) <= max_hamming.  All JVM-side (shiftrightunsigned /
    posexplode / bit_count); no Python in the path.

    Returns distinct (id_a, id_b, hamming) with id_a < id_b.
    """
    if bands is None:
        bands = max_hamming + 1
    if bands < max_hamming + 1:
        raise ValueError(
            f"bands={bands} < max_hamming+1={max_hamming + 1}: pigeonhole "
            "exactness needs at least max_hamming+1 bands"
        )
    if bands > hash_bits:
        raise ValueError(f"bands={bands} > hash_bits={hash_bits}")
    base, rem = divmod(hash_bits, bands)
    widths = [base + (1 if i < rem else 0) for i in range(bands)]
    starts = [sum(widths[:i]) for i in range(bands)]
    h = F.col(hash_col).cast("long")
    # mask with AND, not %: % keeps the dividend's sign, so band 0 of a
    # negative hash would differ from a positive hash with identical bits.
    # A 64-bit band (bands=1, i.e. exact match) needs no mask — and its
    # mask constant would overflow LongType.
    band_vals = [
        F.shiftrightunsigned(h, starts[i])
        .bitwiseAND(F.lit((1 << widths[i]) - 1).cast("long"))
        .cast("long")
        if widths[i] < 64
        else h
        for i in range(bands)
    ]
    # id keeps its NATIVE type: '<' and the band join work on strings
    # too, and casting a string doc-id to long would NULL it and make
    # the id_a < id_b filter silently drop every pair (ADVICE r4).
    sides = df.select(
        F.col(id_col).alias("_id"),
        h.alias("_h"),
        F.posexplode(F.array(*band_vals)).alias("band_idx", "band_val"),
    )
    a = sides.select(
        F.col("_id").alias("id_a"), F.col("_h").alias("hash_a"),
        "band_idx", "band_val",
    )
    b = sides.select(
        F.col("_id").alias("id_b"), F.col("_h").alias("hash_b"),
        "band_idx", "band_val",
    )
    cand = (
        a.join(b, ["band_idx", "band_val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "hash_a", "hash_b")
        .distinct()  # a pair can match in several bands; verify once
    )
    return (
        cand.withColumn(
            "hamming",
            F.bit_count(F.col("hash_a").bitwiseXOR(F.col("hash_b"))),
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def hamming_neardup_pairs_grouped(
    df: DataFrame,
    id_col: str,
    hash_col: str,
    max_hamming: int = 2,
    bands: int | None = None,
    hash_bits: int = 64,
) -> DataFrame:
    """Row-identical to :func:`hamming_neardup_pairs`, built by
    contraction + expansion instead of the banded member self-join.

    Duplicate families make the banded bucket join quadratic in the
    FAMILY size (the sf1.0 bench corpus: 50k rows, 7.5k distinct
    fingerprints, 54M verified pairs — the candidate self-join and its
    ``distinct`` dwarf everything else).  But both the pigeonhole
    candidate test and the Hamming verify depend only on the
    fingerprint VALUES, so: (1) every pair within an equal-fingerprint
    group is a verified Hamming-0 pair — expanded directly from the
    group member list; (2) a cross-group pair exists iff the group
    REPRESENTATIVES form a verified pair, with the same hamming —
    the banded join runs over one representative per distinct value
    and the member pairs are expanded through two keyed joins.  Each
    unordered pair is produced exactly once (within xor cross), so no
    distinct pass is needed.  Returns (id_a < id_b, hamming)."""
    g = df.select(F.col(id_col).alias("_id"), F.col(hash_col).alias("_h"))
    grp = g.groupBy("_h").agg(F.min("_id").alias("_rep"))
    rp = hamming_neardup_pairs(
        grp.select(
            F.col("_rep").alias(id_col), F.col("_h").alias(hash_col)
        ),
        id_col, hash_col, max_hamming, bands, hash_bits,
    )
    # the rep-keyed tables are the CONTRACTED side (one row per
    # distinct fingerprint / per verified rep pair) — broadcast them
    # explicitly: after the aggregate the planner has no size
    # estimate and was planning shuffle joins for the expansion
    # (measured 9.2s -> 6.2s at sf1.0). The member table itself is
    # never broadcast (corpus-sized).
    r1 = grp.select(F.col("_rep").alias("id_a"), F.col("_h").alias("_ha"))
    r2 = grp.select(F.col("_rep").alias("id_b"), F.col("_h").alias("_hb"))
    rph = (
        rp.join(F.broadcast(r1), "id_a").join(F.broadcast(r2), "id_b")
        .select("_ha", "_hb", "hamming")
    )
    ga = g.select(F.col("_id").alias("_ia"), F.col("_h").alias("_ha"))
    gb = g.select(F.col("_id").alias("_ib"), F.col("_h").alias("_hb"))
    cross = (
        ga.join(F.broadcast(rph), "_ha")
        .join(gb, "_hb")
        .select(
            F.least(F.col("_ia"), F.col("_ib")).alias("id_a"),
            F.greatest(F.col("_ia"), F.col("_ib")).alias("id_b"),
            F.col("hamming"),
        )
    )
    within = (
        ga.join(gb, ga["_ha"] == gb["_hb"])
        .filter(F.col("_ia") < F.col("_ib"))
        .select(
            F.col("_ia").alias("id_a"),
            F.col("_ib").alias("id_b"),
            F.lit(0).cast("int").alias("hamming"),
        )
    )
    return within.unionByName(cross)


def simhash_cluster_labels(
    sims: DataFrame,
    id_col: str = "doc_id",
    sim_col: str = "simhash",
    max_hamming: int = 2,
    bands: int | None = None,
    hash_bits: int = 64,
    max_iters: int = 30,
    groups: DataFrame | None = None,
    rep_pairs: DataFrame | None = None,
) -> DataFrame:
    """``connected_components(hamming_neardup_pairs(sims, ...))`` with
    the contraction pulled BEFORE pair generation: row-identical
    output (equivalence-tested), built without ever materializing the
    quadratic within-family pair list.

    Why it is exact: rows sharing one fingerprint value are pairwise
    Hamming-0 — every such pair passes the banding candidate test
    (equal hashes share every band) and the verify, so each
    equal-fingerprint group is one clique in the verified-pair graph.
    And both the candidate test and the verify depend only on the
    fingerprint VALUES, so a pair exists between two groups iff it
    exists between their representatives.  Contracting each group to
    its min-id representative therefore preserves connectivity
    exactly, and since cluster ids are component-MIN member ids and
    each group's min IS its representative, the labels that come out
    are the full graph's labels.

    Scale shape: duplicate families at corpus scale are quasi-cliques
    (the sf1.0 bench corpus: 50k docs -> 54M verified pairs, but only
    7.5k distinct fingerprints -> 219k representative pairs, 248x
    fewer), so pair generation and CC both run on the distinct-
    fingerprint graph; members inherit through one keyed join.
    Node-set contract preserved: a row is labeled iff it sat in at
    least one verified pair — i.e. its group has >= 2 members (the
    Hamming-0 clique) or its representative touches a cross-group
    pair.

    ``groups`` / ``rep_pairs`` let a caller that already built the
    (sim, _rep, _gn) group table and the verified representative pair
    list inject them (e.g. the incremental query shares one banded
    join between its corpus and batch graphs); they must be exactly
    the tables this function would derive."""
    grp = (
        groups
        if groups is not None
        else sims.groupBy(sim_col).agg(
            F.min(id_col).alias("_rep"), F.count(F.lit(1)).alias("_gn")
        )
    )
    reps = grp.select(F.col("_rep").alias(id_col), F.col(sim_col))
    rpairs = (
        rep_pairs
        if rep_pairs is not None
        else hamming_neardup_pairs(
            reps, id_col, sim_col,
            max_hamming=max_hamming, bands=bands, hash_bits=hash_bits,
        )
    )
    rlabels = connected_components(rpairs, "id_a", "id_b", max_iters)
    members = sims.select(F.col(id_col), F.col(sim_col)).join(grp, sim_col)
    return (
        members.join(
            rlabels.withColumnRenamed("node", "_rep"), "_rep", "left"
        )
        .filter((F.col("_gn") >= 2) | F.col("cluster_id").isNotNull())
        .select(
            F.col(id_col).alias("node"),
            F.coalesce(F.col("cluster_id"), F.col("_rep")).alias(
                "cluster_id"
            ),
        )
    )


def connected_components(
    pairs: DataFrame,
    src_col: str = "id_a",
    dst_col: str = "id_b",
    max_iters: int = 30,
    driver_max_edges: int = 2_000_000,
) -> DataFrame:
    """Connected components over a near-duplicate pair list: the step
    that turns pairwise matches (minhash/ngram/simhash/phash output)
    into per-document cluster assignments.  Without it a dedup
    pipeline can drop both ends of a chain A~B, B~C (A and C never
    compare equal): the cluster id — the MIN node id reachable through
    any chain of pairs — is what a 100 TB corpus keeps one exemplar of.
    The reference never needs this (its payload dedup is exact-hash
    only, util/http/ConnSupportUtils.java:414-455); near-dup families
    require it.

    Algorithm: distributed hash-min label propagation with pointer
    jumping, all DataFrame ops:

    1. symmetrize the edge list (one distinct, done once);
    2. each iteration: ``l(v) <- min(l(v), min over neighbors l(u))``
       in ONE aggregation — neighbor candidates (edges joined to
       labels on the neighbor end) are unioned with each node's own
       label row and reduced by a single ``groupBy(node).min`` with
       map-side partial aggregation; the previous label rides the
       same aggregate (``max`` over a column that is null on neighbor
       rows and l(v) on the unique self row), so no second join is
       needed to either apply the self-min or recover the prior
       label.  Then a pointer-jump ``l(v) <- l(l(v))`` (labels
       self-join) so chains collapse in O(log n) rounds, not
       O(diameter) — three shuffles per round total;
    3. eager ``localCheckpoint`` per round cuts the lineage (iterative
       plans otherwise re-derive every prior round and the optimizer
       re-plans an exponentially growing tree);
    4. stop when no label changed — the changed-count rides the
       checkpoint's own materialization as an ``Observation`` (the
       previous label travels as a column), so convergence costs zero
       extra jobs per round instead of a join + count.

    Labels only decrease and are bounded by the component minimum, and
    a no-change fixpoint forces ``l(u) == l(v)`` across every
    (symmetric) edge, so the result is exact.  Pointer jumping covers
    a diameter of ~2^iters, so only an adversarial graph (huge
    diameter AND huge components) needs a larger ``max_iters``;
    near-dup clusters are small and dense, where hash-min + jump needs
    2-4 rounds.

    Returns (node, cluster_id) for every node that appears in
    ``pairs``; singletons are absent (callers left-join and coalesce to
    the node's own id — see __spark_entry__.q_dedup_clusters).

    Round-6 shape change (same outputs, exact): dense near-dup
    graphs — duplicate FAMILIES are quasi-cliques, the bench corpus
    carries 54M verified pairs over 50k docs — made every hash-min
    round rescan the full edge list.  Now round 1 is FUSED (labels
    are the identity before the first step, so the neighbor-min needs
    no join — one map-side-combined aggregate over the raw
    symmetrized multi-edge list, whose former ``distinct`` exchange
    is gone: min() tolerates duplicates) and the graph is then
    CONTRACTED: the loop iterates over the distinct cross-label edge
    list (labels after one step + jump), which collapses each clique
    to ~one node.  Labels only ever move to smaller ids within a
    component and contraction preserves both connectivity and the
    component-min (the min node m keeps l(m)=m through round 1), so
    the fixpoint is unchanged — pinned by the equivalence tests.
    """
    if max_iters <= 0:
        raise RuntimeError(
            f"connected_components did not converge in {max_iters} rounds "
            "(pointer jumping covers diameter ~2^iters — this graph is "
            "adversarial; raise max_iters)"
        )
    e = pairs.select(F.col(src_col).alias("a"), F.col(dst_col).alias("b"))
    e = (
        e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .localCheckpoint(eager=True)  # reused: round-1 agg + contraction
    )
    # round 1, fused: l1(v) = min(v, min N(v)), then pointer jump
    l1 = (
        e.groupBy("a")
        .agg(F.min("b").alias("_mn"))
        .select(
            F.col("a").alias("node"),
            F.least(F.col("a"), F.col("_mn")).alias("label"),
        )
    )
    j1 = l1.select(F.col("node").alias("_jn"), F.col("label").alias("_jl"))
    l1 = (
        l1.join(j1, l1["label"] == j1["_jn"], "left")
        .select(
            "node",
            F.coalesce(F.col("_jl"), F.col("label")).alias("label"),
        )
        .localCheckpoint(eager=True)
    )
    # contract: the loop below runs on the label graph (size-picked
    # join strategy — the label table is broadcast when small)
    m1 = l1.select(F.col("node").alias("_mn1"), F.col("label").alias("_ml1"))
    m2 = l1.select(F.col("node").alias("_mn2"), F.col("label").alias("_ml2"))
    ec = (
        e.join(m1, e["a"] == m1["_mn1"])
        .join(m2, e["b"] == m2["_mn2"])
        .select(F.col("_ml1").alias("a"), F.col("_ml2").alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n_ec = ec.count()  # ec is checkpointed: the count is a cheap scan
    if n_ec == 0:
        # no cross-label edge left: round 1 already reached the fixpoint
        return l1.select(F.col("node"), F.col("label").alias("cluster_id"))
    numeric = ec.schema["a"].dataType.typeName() in (
        "long", "integer", "short", "byte"
    )
    if numeric and n_ec <= driver_max_edges:
        # the contracted graph is bounded and integer-keyed: finish it
        # with a driver-side union-find (exact — the label is the
        # component MIN, same fixpoint as the hash-min loop) instead
        # of paying 2-4 more blocking checkpoint rounds of tiny
        # distributed jobs. Gated by size: past driver_max_edges the
        # distributed loop below is the scale path (quantizer
        # training sets the driver-side-bounded-work precedent).
        parent: dict[int, int] = {}

        def find(x: int) -> int:
            r = x
            while parent.get(r, r) != r:
                r = parent[r]
            while parent.get(x, x) != x:
                parent[x], x = r, parent[x]
            return r

        for row in ec.collect():
            ra, rb = find(int(row["a"])), find(int(row["b"]))
            if ra != rb:
                # attach the larger root under the smaller: roots stay
                # the component minimum
                if ra < rb:
                    parent[rb] = ra
                else:
                    parent[ra] = rb
        rows = sorted((x, find(x)) for x in list(parent))
        res = F.broadcast(
            ec.sparkSession.createDataFrame(
                rows,
                ec.select(F.col("a").alias("_cn")).schema.add(
                    "_cl", ec.schema["a"].dataType
                ),
            )
        )
    else:
        lc = _hashmin_loop(ec, max_iters - 1)
        res = lc.select(
            F.col("node").alias("_cn"), F.col("cluster_id").alias("_cl")
        )
    return (
        l1.join(res, l1["label"] == res["_cn"], "left")
        .select(
            "node",
            F.coalesce(F.col("_cl"), F.col("label")).alias(
                "cluster_id"
            ),
        )
    )


def _hashmin_loop(e: DataFrame, max_iters: int) -> DataFrame:
    """Hash-min + pointer-jump label propagation over a symmetric
    DISTINCT edge list until no label changes (the pre-contraction
    loop of :func:`connected_components`, unchanged)."""
    labels = (
        e.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint(eager=True)
    )
    label_type = labels.schema["label"].dataType
    for _ in range(max_iters):
        nbr = e.join(
            labels.select(
                F.col("node").alias("_bn"), F.col("label").alias("_bl")
            ),
            F.col("b") == F.col("_bn"),
        ).select(
            F.col("a").alias("node"),
            F.col("_bl").alias("_cand"),
            F.lit(None).cast(label_type).alias("_self"),
        )
        own = labels.select(
            F.col("node"),
            F.col("label").alias("_cand"),
            F.col("label").alias("_self"),
        )
        # one shuffle applies BOTH the neighbor-min and the self-min
        # and carries the previous label out of the same aggregate:
        # every node has exactly one non-null _self row, so max(_self)
        # IS l(v) from the prior round
        stepped = (
            nbr.union(own)
            .groupBy("node")
            .agg(
                F.min("_cand").alias("label"),
                F.max("_self").alias("_prev"),
            )
        )
        jump = stepped.select(
            F.col("node").alias("_jn"), F.col("label").alias("_jl")
        )
        # the convergence count rides the checkpoint job: _prev is this
        # node's label from the previous round (already in the row —
        # no join needed), and the Observation is aggregated while the
        # checkpoint materializes, so detecting the fixpoint costs no
        # extra scan
        obs = Observation()
        new = (
            stepped.join(jump, stepped["label"] == jump["_jn"], "left")
            .select(
                F.col("node"),
                F.coalesce(F.col("_jl"), F.col("label")).alias("label"),
                F.col("_prev"),
            )
            .observe(
                obs,
                F.sum(
                    (F.col("label") != F.col("_prev")).cast("long")
                ).alias("changed"),
            )
            .localCheckpoint(eager=True)
        )
        changed = obs.get["changed"] or 0
        labels = new.drop("_prev")
        if changed == 0:
            return labels.select(F.col("node"), F.col("label").alias("cluster_id"))
    raise RuntimeError(
        f"connected_components did not converge in {max_iters} rounds "
        "(pointer jumping covers diameter ~2^iters — this graph is "
        "adversarial; raise max_iters)"
    )


def canonicalize_clusters(
    assigned: DataFrame,
    cluster_col: str,
    id_col: str,
    attr_cols: list[str],
) -> DataFrame:
    """Per-cluster attribute resolution — the step AFTER
    connected_components in an image+caption dedup pipeline: once
    near-dup rows share a ``cluster_col``, a 100 TB pipeline keeps one
    exemplar per cluster and must decide which caption / source /
    license the survivor carries.  The reference never merges records
    (its payload dedup is exact-md5 drop, ConnSupportUtils.java:414-455)
    so conflicting metadata between near-identical re-encodes is
    invisible to it; at training-data scale the conflicts ARE the
    signal (mislabeled duplicates poison both arms of a contrastive
    pair).

    For each cluster emits one row:

    - ``cluster_size``           rows in the cluster,
    - ``canonical_<id_col>``     min id (the exemplar dedup keeps),
    - per attr ``a`` in ``attr_cols``:
        ``canonical_<a>``  majority value, ties broken by the LARGEST
                           value (deterministic: the reduce is
                           ``max_by(a, struct(cnt, a))`` so equal
                           counts order by the value itself),
        ``n_<a>``          distinct values in the cluster,
        ``<a>_conflict``   n_<a> > 1.

    Shuffle shape: one ``groupBy(cluster, a).count`` per attr (map-side
    partial aggregation collapses duplicate values before the
    exchange — captions repeat heavily inside a near-dup cluster) then
    a ``groupBy(cluster)`` reduce; no windows, no explode, never a
    per-cluster collect.  All joins are on the cluster key, so AQE
    plans them as co-partitioned sort-merge at scale and broadcasts at
    test scale.  NULLs match SQL aggregate semantics: ``n_<a>`` counts
    distinct NON-NULL values (``count(distinct a)``), and the canonical
    value is the majority non-null one (the ordering struct is nulled
    for NULL attrs so ``max_by`` skips them); an all-NULL cluster gets
    ``canonical_<a>`` NULL, ``n_<a>`` 0, no conflict.
    """
    base = assigned.groupBy(cluster_col).agg(
        F.count(F.lit(1)).alias("cluster_size"),
        F.min(id_col).alias(f"canonical_{id_col}"),
    )
    out = base
    for a in attr_cols:
        counts = assigned.groupBy(cluster_col, a).agg(
            F.count(F.lit(1)).alias("_cnt")
        )
        resolved = counts.groupBy(cluster_col).agg(
            F.max_by(
                a,
                F.when(
                    F.col(a).isNotNull(),
                    F.struct(F.col("_cnt"), F.col(a)),
                ),
            ).alias(f"canonical_{a}"),
            F.count(a).alias(f"n_{a}"),
        ).withColumn(f"{a}_conflict", F.col(f"n_{a}") > 1)
        out = out.join(resolved, cluster_col)
    return out


def cluster_safe_split(
    assigned: DataFrame,
    cluster_col: str = "cluster_id",
    test_frac: float = 0.1,
    seed: str = "split-v1",
) -> DataFrame:
    """Leakage-safe train/test split: hash the CLUSTER id, not the row
    id, so every member of a near-dup cluster lands on the same side.
    Splitting rows independently after dedup-clustering leaks — a
    near-duplicate of a test image sitting in train inflates eval
    (the exact failure near-dup detection exists to prevent); hashing
    the cluster key makes the split closed over the \"is a near-dup
    of\" relation by construction.

    Deterministic and engine-portable: bucket =
    first 8 hex chars of md5(seed || ':' || cluster_id) mod 10^4,
    test iff bucket < test_frac * 10^4 (md5 keeps the exact DuckDB
    oracle, same trick as the simhash CTE). Pure per-row projection —
    no shuffle, no RNG state; re-running with the same seed on a GROWN
    corpus keeps every previously-assigned cluster on its original
    side (stable splits across dataset versions, the property random
    splits lack).

    Adds a ``split`` column ('test'/'train') to ``assigned``.
    """
    bucket = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit(str(seed)),
                        F.lit(":"),
                        F.col(cluster_col).cast("string"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        )
        .cast("long")
        % 10000
    )
    return assigned.withColumn(
        "split",
        F.when(bucket < int(round(test_frac * 10000)), F.lit("test")).otherwise(
            F.lit("train")
        ),
    )


def dup_span_stats(
    df: DataFrame,
    text_col: str,
    id_col: str,
    w: int = 8,
    stride: int = 4,
    hash_keys: bool = True,
) -> DataFrame:
    """Exact duplicated-substring detection (Lee et al. 2021,
    "Deduplicating Training Data Makes Language Models Better": the
    suffix-array ExactSubstr pass, re-expressed as Spark aggregations):
    slide a ``w``-token window at ``stride`` tokens over every
    document and flag each span whose exact text also occurs in at
    least one OTHER document. Catches templated boilerplate and
    quoted passages that document-level MinHash/SimHash miss (the
    documents disagree globally but share long verbatim runs).

    Returns (id, n_spans, dup_spans, dup_frac): dup_spans = number of
    this document's span positions whose text is cross-document
    duplicated; dup_frac = dup_spans / n_spans @6dp (0.0 for docs
    shorter than ``w`` tokens — nothing to match, not "clean by
    definition"; filter on n_spans > 0 to distinguish).

    Scale shape — never pairwise: spans explode to ~n/stride rows per
    doc; per-(key, doc) presence is map-side combined BEFORE the
    global per-key doc count, so a boilerplate span shared by millions
    of docs reduces to one row per (key, doc) in flight and one
    aggregated stats row per key; the flag join is then
    (spans x 1-row-per-key) on the span key — no all-pairs path
    anywhere. With ``hash_keys`` (production default) the span text is
    collapsed to xxhash64 IMMEDIATELY at the explode, so every
    shuffle/join key is 8 bytes instead of a w-token string (the
    int64-shingle trick from ngram_jaccard_pairs); the contract query
    passes hash_keys=False because DuckDB lacks xxhash64 — pytest
    pins hash/text equivalence instead.
    """
    words = F.col("_w")  # attribute, not inline split — see _words
    n_spans_expr = F.floor(
        (F.size(words) - F.lit(w)) / F.lit(stride)
    ) + 1
    span_text = lambda p: F.concat_ws(  # noqa: E731
        " ", F.slice(words, p * stride + 1, w)
    )
    key_of = (
        (lambda p: F.xxhash64(span_text(p)))
        if hash_keys
        else span_text
    )
    spans = df.select(
        F.col(id_col), _words(F.col(text_col)).alias("_w")
    ).select(
        F.col(id_col),
        F.explode(
            F.when(
                n_spans_expr > 0,
                F.transform(
                    F.sequence(F.lit(0), n_spans_expr.cast("int") - 1),
                    lambda p: key_of(p),
                ),
            ).otherwise(F.array().cast(
                "array<bigint>" if hash_keys else "array<string>"
            ))
        ).alias("_key"),
    )
    key_docs = spans.groupBy("_key", id_col).agg(
        F.count(F.lit(1)).alias("_pos")
    )
    # distinct-doc count per key as a WINDOW over the (key, doc)
    # aggregate, not a second groupBy + join back: the join-back form
    # makes Catalyst's column pruning specialize the two subtrees so
    # the scan + explode run TWICE (verified via .explain) — the
    # window keeps one scan, one explode, and one extra exchange of
    # the already-aggregated rows. Skew ceiling: a span shared by D
    # docs puts D rows in one window partition (count only, no
    # carried payload) — same doc-frequency ceiling as
    # ngram_jaccard_pairs' id lists, documented there.
    w_key = Window.partitionBy("_key")
    flagged = key_docs.withColumn(
        "_nd", F.count(F.lit(1)).over(w_key)
    )
    per_doc = flagged.groupBy(id_col).agg(
        F.sum("_pos").alias("_n"),
        F.sum(
            F.when(F.col("_nd") >= 2, F.col("_pos")).otherwise(F.lit(0))
        ).alias("_dup"),
    )
    return (
        df.select(F.col(id_col))
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("_n"), F.lit(0)).alias("n_spans"),
            F.coalesce(F.col("_dup"), F.lit(0)).alias("dup_spans"),
            F.round(
                F.coalesce(F.col("_dup"), F.lit(0))
                / F.greatest(F.coalesce(F.col("_n"), F.lit(0)), F.lit(1)),
                6,
            ).alias("dup_frac"),
        )
    )


def drop_dup_spans(
    df: DataFrame,
    text_col: str,
    id_col: str,
    w: int = 8,
    stride: int = 4,
    hash_keys: bool = True,
) -> DataFrame:
    """Exact duplicated-span REMOVAL (the acting form of
    dup_span_stats — Lee et al. 2021 remove one copy of every
    duplicated substring rather than dropping whole documents): for
    every span text occurring more than once in the corpus, the
    single GLOBAL WINNER occurrence (lowest (id, position)) keeps its
    tokens; every other occurrence's w-token range is cut from its
    document. Returns (id, clean_text, n_removed_spans).

    Shape: the span explode + per-key winner window are the
    dup_span_stats shuffles; the removal itself is one
    collect_list(positions) per affected doc (bounded by spans/doc,
    never corpus-wide) joined back and applied as a token-index
    filter — ``F.filter``'s (element, index) lambda against the
    loser ranges, pure JVM. Only docs that LOSE at least one span
    pay the rebuild; winners and clean docs pass through with their
    original text. ``hash_keys`` as in dup_span_stats (int64 span
    keys for 8-byte shuffles; a hash collision here would remove a
    non-duplicate span — at xxhash64's 2^-64 rate, the standard
    trade the stats op documents)."""
    words = F.col("_w")
    n_spans_expr = F.floor(
        (F.size(words) - F.lit(w)) / F.lit(stride)
    ) + 1
    span_text = lambda p: F.concat_ws(  # noqa: E731
        " ", F.slice(words, p * stride + 1, w)
    )
    key_of = (
        (lambda p: F.xxhash64(span_text(p)))
        if hash_keys
        else span_text
    )
    base = df.select(
        F.col(id_col),
        F.col(text_col).alias("_orig"),
        _words(F.col(text_col)).alias("_w"),
    )
    keyed = base.select(
        F.col(id_col),
        F.posexplode(
            F.when(
                n_spans_expr > 0,
                F.transform(
                    F.sequence(F.lit(0), n_spans_expr.cast("int") - 1),
                    lambda p: key_of(p),
                ),
            ).otherwise(F.array().cast(
                "array<bigint>" if hash_keys else "array<string>"
            ))
        ).alias("_pos", "_key"),
    )
    w_key = Window.partitionBy("_key")
    losers = (
        keyed.withColumn(
            "_win",
            F.min(F.struct(F.col(id_col), F.col("_pos"))).over(w_key),
        )
        .filter(
            (F.col(id_col) != F.col(f"_win.{id_col}"))
            | (F.col("_pos") != F.col("_win._pos"))
        )
        .groupBy(id_col)
        .agg(
            F.collect_list("_pos").alias("_ps"),
            F.count(F.lit(1)).alias("_nr"),
        )
    )
    # Project the coalesced loser-position list to an ATTRIBUTE before
    # the token filter: an inline coalesce inside the lambda would be
    # re-evaluated once per token (HOF lambdas recompute non-attribute
    # expressions per element — 11x measured on this repo's tokenizers).
    kept = F.filter(
        F.col("_w"),
        lambda t, i: ~F.exists(
            F.col("_ps"),
            lambda p: (i >= p * stride) & (i < p * stride + w),
        ),
    )
    return (
        base.join(losers, id_col, "left")
        .select(
            F.col(id_col),
            F.col("_orig"),
            F.col("_w"),
            F.coalesce(F.col("_ps"), F.array().cast("array<int>")).alias("_ps"),
            F.coalesce(F.col("_nr"), F.lit(0)).alias("n_removed_spans"),
        )
        .select(
            id_col,
            # docs that lose NO span pass through with their ORIGINAL
            # text (the docstring's contract) — the token rebuild
            # (lowercased, whitespace-collapsed) is inherent to
            # token-index cuts and applies ONLY to affected docs;
            # rebuilding every row silently corrupted casing/spacing
            # corpus-wide
            F.when(
                F.col("n_removed_spans") > 0, F.concat_ws(" ", kept)
            ).otherwise(F.col("_orig")).alias("clean_text"),
            "n_removed_spans",
        )
    )


def decontaminate(
    df: DataFrame,
    eval_df: DataFrame,
    text_col: str,
    id_col: str,
    w: int = 13,
    hash_keys: bool = True,
    eval_text_col: str | None = None,
) -> DataFrame:
    """Benchmark decontamination (GPT-3 appendix-C style 13-gram
    overlap): flag every training document containing ANY w-token
    span (stride 1 — eval text can start anywhere) that also occurs
    in the held-out eval corpus. Returns one row per training doc:
    (id, n_eval_hits, contaminated).

    Scale shape — eval corpora are tiny next to a 100 TB training
    corpus, so the eval side is the BROADCAST side: distinct eval
    span keys ship to every executor and the exploded training spans
    hit them in a BroadcastHashJoin with NO shuffle of the big side;
    the per-doc hit count then partial-aggregates map-side before the
    one small groupBy(id) exchange. With ``hash_keys`` every
    broadcast/join key is an 8-byte xxhash64 instead of a w-token
    string (the int64-shingle trick from ngram_jaccard_pairs); the
    contract query passes hash_keys=False because DuckDB lacks
    xxhash64 — pytest pins hash/text equivalence instead."""

    def span_keys() -> Column:
        # reads the PROJECTED token attribute `_w` — both consumers
        # select it first (the attribute-first discipline); the old
        # (frame, text) parameters were dead and misleading
        words = F.col("_w")
        n = F.size(words) - F.lit(w) + 1
        span_text = lambda p: F.concat_ws(  # noqa: E731
            " ", F.slice(words, p + 1, w)
        )
        key_of = (
            (lambda p: F.xxhash64(span_text(p)))
            if hash_keys
            else span_text
        )
        return F.when(
            n > 0,
            F.transform(
                F.sequence(F.lit(0), n.cast("int") - 1),
                lambda p: key_of(p),
            ),
        ).otherwise(
            F.array().cast(
                "array<bigint>" if hash_keys else "array<string>"
            )
        )

    ev_keys = (
        eval_df.select(
            _words(F.col(eval_text_col or text_col)).alias("_w")
        )
        .select(F.explode(span_keys()).alias("_key"))
        .distinct()
    )
    train_spans = df.select(
        F.col(id_col), _words(F.col(text_col)).alias("_w")
    ).select(
        F.col(id_col),
        F.explode(span_keys()).alias("_key"),
    )
    hits = (
        train_spans.join(F.broadcast(ev_keys), "_key", "inner")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("_n"))
    )
    return (
        df.select(F.col(id_col))
        .join(hits, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("_n"), F.lit(0)).alias("n_eval_hits"),
            (F.coalesce(F.col("_n"), F.lit(0)) > 0).alias("contaminated"),
        )
    )


def incremental_components(
    assign: DataFrame,
    new_pairs: DataFrame,
    src_col: str = "id_a",
    dst_col: str = "id_b",
    node_col: str = "node",
    cluster_col: str = "cluster_id",
    max_iters: int = 30,
) -> DataFrame:
    """Incremental connected components: fold a NEW batch's near-dup
    pairs (batch-batch and batch-corpus, e.g.
    :func:`incremental_neardup_pairs` output) into an EXISTING
    cluster assignment without re-running CC over the corpus.

    Key identity: collapsing each existing cluster to its canonical
    min-id representative preserves connectivity, so CC over the
    MAPPED edge set — every endpoint replaced by its current cluster
    id (its own id if unassigned) — yields exactly the full graph's
    new components. That mapped graph has O(|batch| + touched
    clusters) nodes, not O(corpus): the 10^10-node assignment is
    read once in a keyed join and never iterated over.

    Because cluster ids are component-MIN member ids (the
    :func:`connected_components` contract) and mapping substitutes a
    cluster's min for its members, the labels that come out are again
    true min-member ids over the merged components — the incremental
    result is bit-identical to a full recompute (property-tested).

    Returns (node, cluster_id) over the mapped ids: batch ids and the
    canonical reps of touched clusters. Feed it to
    :func:`apply_component_update` for the full updated assignment.
    """
    e = new_pairs.select(
        F.col(src_col).alias("_ea"), F.col(dst_col).alias("_eb")
    )
    a1 = assign.select(
        F.col(node_col).alias("_n1"), F.col(cluster_col).alias("_c1")
    )
    a2 = assign.select(
        F.col(node_col).alias("_n2"), F.col(cluster_col).alias("_c2")
    )
    mapped = (
        e.join(a1, e["_ea"] == a1["_n1"], "left")
        .join(a2, e["_eb"] == a2["_n2"], "left")
        .select(
            F.coalesce(F.col("_c1"), F.col("_ea")).alias("a"),
            F.coalesce(F.col("_c2"), F.col("_eb")).alias("b"),
        )
    )
    return connected_components(mapped, "a", "b", max_iters)


def apply_component_update(
    assign: DataFrame,
    batch_ids: DataFrame,
    update: DataFrame,
    id_col: str,
    node_col: str = "node",
    cluster_col: str = "cluster_id",
) -> DataFrame:
    """Materialize :func:`incremental_components` output as the full
    updated assignment: corpus rows relabel through the (tiny,
    broadcast) update keyed on their OLD cluster id; batch rows take
    their update label or stay singletons. Returns (id_col,
    cluster_id) for corpus + batch."""
    upd = F.broadcast(
        update.select(
            F.col(node_col).alias("_old"),
            F.col(cluster_col).alias("_new"),
        )
    )
    corpus = (
        assign.join(upd, assign[cluster_col] == F.col("_old"), "left")
        .select(
            F.col(node_col).alias(id_col),
            F.coalesce(F.col("_new"), F.col(cluster_col)).alias(
                cluster_col
            ),
        )
    )
    batch = (
        batch_ids.select(id_col)
        .join(upd, F.col(id_col) == F.col("_old"), "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("_new"), F.col(id_col)).alias(cluster_col),
        )
    )
    # corpus SINGLETONS touched by a batch pair: absent from `assign`
    # (the CC contract omits singletons) and not batch ids, yet they
    # appear in `update` mapped as their own rep — without this branch
    # they silently keep their singleton label (caught by the
    # full-recompute oracle). Both anti-joins are keyed with the tiny
    # update frame as the probe side.
    singles = (
        update.select(
            F.col(node_col).alias(id_col),
            F.col(cluster_col).alias(cluster_col),
        )
        .join(
            assign.select(F.col(node_col).alias(id_col)),
            id_col,
            "left_anti",
        )
        .join(batch_ids.select(id_col), id_col, "left_anti")
    )
    return corpus.unionByName(batch).unionByName(singles)
