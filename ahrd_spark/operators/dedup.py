"""Deduplication operators for training-data pipelines.

Four families, each with a different cost/recall point:
- exact          hash-groupBy on a content hash — one shuffle keyed by the
                 hash (uniform by construction -> no skew)
- minhash + LSH  shingle -> per-seed min-hash -> band buckets -> bucket join;
                 only same-bucket pairs are compared, the standard sub-
                 quadratic near-dup path at corpus scale
- simhash        per-token bit votes -> compact bit signature; hamming-near
                 docs collide on signature prefixes
- n-gram jaccard exact pair similarity (verification step after LSH
                 candidate generation, or direct on small candidate sets)

All hashes are md5-derived (deterministic, engine-independent — the same
values fall out of any SQL engine, which the DuckDB correctness oracle
relies on).  No Python in any path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ahrd_spark.functions.hashing import md5_prefix60
from ahrd_spark.functions.text import tokenize_expr


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
                ) -> DataFrame:
    """-> (content_hash, canonical_id, dup_count): one row per distinct
    content; canonical = min id.  Partial-aggregates map-side; the hash key
    is uniform so the shuffle cannot skew."""
    return (
        df.select(F.md5(F.col(text_col)).alias("content_hash"), F.col(id_col))
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias("canonical_id"),
            F.count("*").alias("dup_count"),
        )
    )


def shingles_expr(text: Column, k: int = 3) -> Column:
    """Token k-gram shingles (ARRAY<STRING>), distinct."""
    toks = F.split(F.lower(F.trim(text)), r"\s+")
    n = F.size(toks)
    idx = F.sequence(F.lit(0), F.greatest(n - k, F.lit(0)))
    return F.array_distinct(
        F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, k)))
    )


# minhash universal-hash family over GF(2^31-1): h_j(v) = (a_j*v + b_j) mod P
# with v = first 60 bits of md5(shingle).  ONE digest per shingle, then
# cheap codegen'd modular arithmetic per seed — ~4-16x less hashing than the
# md5-per-seed construction, still a valid minwise family, and expressible
# identically in DuckDB ('0x'||hex)::BIGINT for the oracle.
MINHASH_P = 2147483647  # 2^31 - 1 (Mersenne prime)


def minhash_coeffs(h: int) -> tuple[int, int]:
    """Deterministic per-seed (a, b), a != 0; shared with the SQL oracle."""
    a = (2654435761 * (h + 1)) % MINHASH_P or 1
    b = (40503 * (h + 7)) % MINHASH_P
    return a, b


def minhash_signature(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    num_hashes: int = 16, shingle_k: int = 3,
) -> DataFrame:
    """-> (id, sig ARRAY<BIGINT>[num_hashes]): per seed h, min over shingles
    of (a_h * v + b_h) mod P, v = md5-derived 60-bit shingle value.

    Formulation: explode shingle START POSITIONS (sequence 1..n-k+1) with
    the token array carried by the Generate, and index it with
    ``element_at`` — every expression (split, element_at, concat_ws, md5,
    the per-seed modular mins) is an ordinary codegen'd builtin, the digest
    is computed ONCE per shingle (the per-seed mins share it via
    subexpression elimination), min() over duplicate shingles equals min()
    over distinct ones so no dedup step is needed, and — decisive at scale
    — the job's ONLY exchange is the post-partial-agg shuffle of one row
    per (doc, seed-mins).  The previous posexplode + lead()-window
    formulation shuffled AND sorted the full exploded token stream (the
    widest data in the query) just to see neighboring tokens; measured 5x
    slower at sf0.1 (4.2 s -> 0.8 s, identical signatures).  try_element_at
    past the array end yields null (even under ANSI mode) and concat_ws
    skips nulls, reproducing the old lead()-based tail behavior for docs
    shorter than ``shingle_k``.
    (An array-lambda formulation of shingling was measured too: higher-
    order functions evaluate interpreted, ~1 ms/doc.)"""
    toks = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    base = df.select(
        F.col(id_col).alias("doc_id"),
        toks.alias("toks"),
        F.size(toks).alias("n"),
    )
    pos = F.explode(
        F.sequence(F.lit(1), F.greatest(F.col("n") - (shingle_k - 1), F.lit(1)))
    )
    sh = base.select("doc_id", "toks", pos.alias("pos"))
    # try_element_at, not element_at: under ANSI mode (Spark 4 default) a
    # past-the-end index must yield null (concat_ws skips it), not throw
    shingle = F.concat_ws(
        " ",
        *[
            F.try_element_at("toks", F.col("pos") + i)
            for i in range(shingle_k)
        ],
    )
    v = md5_prefix60(shingle) % MINHASH_P
    sh = sh.select("doc_id", v.alias("v"))
    mins = []
    for h in range(num_hashes):
        a, b = minhash_coeffs(h)
        mins.append(
            F.min((F.lit(a) * F.col("v") + F.lit(b)) % MINHASH_P).alias(f"h{h}")
        )
    agg = sh.groupBy("doc_id").agg(*mins)
    return agg.select(
        "doc_id",
        F.array(*[F.col(f"h{h}") for h in range(num_hashes)]).alias("sig"),
    )


def banded_buckets(
    signatures: DataFrame, bands: int = 4, rows_per_band: int = 4
) -> DataFrame:
    """(doc_id, band, bucket): LSH band buckets of a minhash signature —
    bucket = md5 over the band's signature slice.  Shared by same-corpus
    pair generation (``lsh_candidate_pairs``) and cross-snapshot novelty
    (``incremental_novelty``)."""
    return signatures.select(
        "doc_id",
        F.posexplode(
            F.array(
                *[
                    F.md5(
                        F.concat_ws(
                            "|",
                            *[
                                F.col("sig")[b * rows_per_band + r].cast(
                                    "string"
                                )
                                for r in range(rows_per_band)
                            ],
                        )
                    )
                    for b in range(bands)
                ]
            )
        ).alias("band", "bucket"),
    )


def lsh_candidate_pairs(
    signatures: DataFrame, bands: int = 4, rows_per_band: int = 4,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Band the signatures and emit candidate duplicate pairs (a < b) that
    share at least one band bucket.  The join is keyed by (band, bucket
    hash) — bucket sizes are the only skew surface; near-duplicate floods
    (e.g. boilerplate) surface as big buckets, which AQE skew-join splits.

    ``max_bucket_size`` (opt-in) drops buckets with more members than the
    cap before pair expansion — the standard web-scale guard against a
    degenerate flood (identical boilerplate, empty documents) whose
    O(members^2) pairs would dwarf the real near-dup signal.  Default None
    keeps exact semantics (and oracle parity); set it on corpora where a
    single content class can dominate a bucket.
    """
    banded = banded_buckets(signatures, bands, rows_per_band)
    if max_bucket_size is not None:
        # The cap must bound EXECUTOR MEMORY, not just pair output: a
        # degenerate flood bucket materializes as one giant collect_set
        # row before any post-agg filter could drop it.  So pre-count
        # bucket members (count aggs combine map-side — the flood bucket
        # never concentrates raw rows) and semi-join-filter the banded
        # rows, so oversized buckets never reach the collect_set at all.
        # Costs one extra count shuffle and a second signature pass on
        # the capped path only — the 100 TB safety path, where 2x
        # signature compute is the cheap side of not OOMing a reducer.
        ok = (
            banded.groupBy("band", "bucket")
            .agg(F.count(F.lit(1)).alias("_n"))
            .filter((F.col("_n") > 1) & (F.col("_n") <= max_bucket_size))
            .select("band", "bucket")
        )
        banded = banded.join(ok, ["band", "bucket"], "left_semi")
    # Aggregate bucket members first (ONE shuffle materializes the upstream
    # signature computation), then expand member pairs in place — a
    # self-join here would recompute the signatures for both sides.
    buckets = (
        banded.groupBy("band", "bucket")
        .agg(F.array_sort(F.collect_set("doc_id")).alias("ids"))
        .filter(F.size("ids") > 1)
    )
    return (
        buckets.select(F.explode("ids").alias("doc_a"), F.col("ids"))
        .select("doc_a", F.explode("ids").alias("doc_b"))
        .filter(F.col("doc_a") < F.col("doc_b"))
        .distinct()
    )


def incremental_novelty(
    new_sigs: DataFrame,
    corpus_sigs: DataFrame,
    bands: int = 4,
    rows_per_band: int = 4,
) -> DataFrame:
    """Cross-snapshot near-dup screening: (doc_id, novel) for every NEW
    document — ``novel`` is false iff any of its LSH band buckets already
    exists in the reference corpus.

    This is the incremental-rebuild move a production pipeline runs every
    snapshot: dedup the new crawl AGAINST the existing corpus without ever
    re-pairing the existing corpus with itself (the anti-join side is
    corpus *buckets*, not corpus documents x new documents).  Cost: one
    join keyed by (band, bucket); the corpus side arrives pre-aggregated to
    distinct buckets, so a boilerplate flood in the corpus is one row per
    bucket, not one per document.  No N^2 term anywhere; both sides
    partition by the uniform bucket hash.
    """
    new_b = banded_buckets(new_sigs, bands, rows_per_band)
    corpus_b = banded_buckets(corpus_sigs, bands, rows_per_band).select(
        "band", "bucket"
    ).distinct()
    hit = (
        new_b.join(corpus_b, ["band", "bucket"], "left_semi")
        .select("doc_id")
        .distinct()
        .withColumn("__hit", F.lit(True))
    )
    return (
        new_sigs.select("doc_id")
        .join(hit, "doc_id", "left")
        .select(
            "doc_id", F.coalesce(~F.col("__hit"), F.lit(True)).alias("novel")
        )
    )


def simhash_expr(text: Column, bits: int = 16) -> Column:
    """Simhash signature as a LONG: bit i set iff the sum over tokens of
    (+1 / -1) votes from the token hash's i-th nibble parity is positive.
    md5-nibble parity keeps it portable across engines.

    The token digest is computed ONCE per token (inner transform), then all
    bit votes read nibbles of that digest — naively folding per bit would
    md5 every token `bits` times."""
    digests = F.transform(tokenize_expr(text), lambda t: F.md5(t))

    def bit(i):
        votes = F.aggregate(
            digests,
            F.lit(0),
            lambda acc, d: acc
            + F.when(
                F.ascii(F.substring(d, i + 1, 1)) % 2 == 1, F.lit(1)
            ).otherwise(F.lit(-1)),
        )
        return (
            F.when(votes > 0, F.lit(2 ** i).cast("long"))
            .otherwise(F.lit(0).cast("long"))
        )

    out = F.lit(0).cast("long")
    for i in range(bits):
        out = out + bit(i)
    return out


def simhash_table(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    bits: int = 16,
) -> DataFrame:
    """Explode-based simhash: one md5 per (doc, token), one hash-agg with
    ``bits`` vote sums — the scan-friendly formulation for full-corpus runs
    (simhash_expr duplicates the digest array fold per bit)."""
    exploded = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(tokenize_expr(F.col(text_col))).alias("t"),
    ).select("doc_id", F.md5("t").alias("d"))
    votes = [
        F.sum(
            F.when(F.ascii(F.substring("d", i + 1, 1)) % 2 == 1, 1).otherwise(-1)
        ).alias(f"v{i}")
        for i in range(bits)
    ]
    agg = exploded.groupBy("doc_id").agg(*votes)
    sim = None
    for i in range(bits):
        term = F.when(F.col(f"v{i}") > 0, F.lit(2 ** i).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        sim = term if sim is None else sim + term
    return agg.select("doc_id", sim.alias("simhash"))


def jaccard_pairs(
    df: DataFrame, pairs: DataFrame, text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact token-set Jaccard for given (doc_a, doc_b) candidate pairs.
    Two broadcast-able joins against the token-set projection."""
    toksets = df.select(
        F.col(id_col).alias("doc_id"),
        F.array_distinct(F.split(F.lower(F.trim(F.col(text_col))), r"\s+")).alias(
            "toks"
        ),
    )
    return (
        pairs.join(toksets.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("toks", "toks_a"), "doc_a")
        .join(toksets.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("toks", "toks_b"), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (
                F.size(F.array_intersect("toks_a", "toks_b")).cast("double")
                / F.size(F.array_union("toks_a", "toks_b"))
            ).alias("jaccard"),
        )
    )


def edit_distance_pairs(
    df: DataFrame, pairs: DataFrame, max_distance: int,
    text_col: str = "text", id_col: str = "doc_id",
) -> DataFrame:
    """Character-level verification for (doc_a, doc_b) candidate pairs:

        (doc_a, doc_b, edit_distance, within)

    ``edit_distance`` is Levenshtein over the raw text (the JVM builtin —
    codegen, no UDF), ``within`` = distance <= ``max_distance``.  The
    character-level companion to ``jaccard_pairs``: small in-word edits
    (typos, inflections) barely move token-set Jaccard but show up as a
    tiny edit distance.

    Scale: same join shape as jaccard_pairs (two doc-keyed joins fetch the
    texts), but the distance itself is O(len_a * len_b) per pair — run it
    on LSH-pruned candidates only, never all-pairs, and cap document
    length upstream (chunk first for book-sized docs)."""
    texts = df.select(F.col(id_col).alias("doc_id"),
                      F.col(text_col).alias("t"))
    dist = F.levenshtein("t_a", "t_b")
    return (
        pairs.join(
            texts.withColumnRenamed("doc_id", "doc_a")
            .withColumnRenamed("t", "t_a"), "doc_a")
        .join(
            texts.withColumnRenamed("doc_id", "doc_b")
            .withColumnRenamed("t", "t_b"), "doc_b")
        .select(
            "doc_a", "doc_b",
            dist.cast("bigint").alias("edit_distance"),
            (dist <= F.lit(max_distance)).alias("within"),
        )
    )


def embedding_dup_pairs(
    emb: DataFrame,
    threshold: float = 0.25,
    dim: int = 64,
    bits: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: -> (vec_a, vec_b, cosine).

    Scale path: deterministic random-hyperplane LSH buckets (see
    ``similarity.lsh_bucket_expr``) shrink the candidate set from N^2/2 to
    sum_b(|bucket_b|^2)/2 — at 2^bits uniform buckets that is a 2^bits-x
    reduction — then exact cosine verification >= ``threshold`` within each
    bucket.  The bucket id is the shuffle key (uniform for near-isotropic
    embeddings); no Python anywhere in the plan.

    Cosine-similar vectors agree on most hyperplane signs, so true near-dups
    (the high-threshold regime this operator targets) land in the same
    bucket with high probability; recall is tuned via ``bits``.
    """
    from ahrd_spark.operators.similarity import cosine_expr, lsh_bucket_expr

    b = emb.select(
        F.col(id_col).alias("vid"),
        F.col(vec_col).alias("v"),
        lsh_bucket_expr(F.col(vec_col), dim, bits).alias("bucket"),
    )
    left = b.select(
        F.col("bucket"), F.col("vid").alias("vec_a"), F.col("v").alias("va")
    )
    right = b.select(
        F.col("bucket"), F.col("vid").alias("vec_b"), F.col("v").alias("vb")
    )
    return (
        left.join(right, "bucket")
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select(
            "vec_a",
            "vec_b",
            cosine_expr(F.col("va"), F.col("vb")).alias("cosine"),
        )
        .filter(F.col("cosine") >= F.lit(threshold))
    )


def dedup_canonical(
    df: DataFrame, pairs: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """-> (doc_id, canonical_id): collapse near-duplicate candidate pairs
    into clusters and pick one keeper per cluster.

    This is the step a training-data pipeline actually runs after pair
    detection: near-dup relations are not transitive pairwise decisions —
    A~B and B~C must land A, B, C in ONE cluster or the "deduplicated"
    corpus still contains B/C.  Clusters are the connected components of
    the pair graph (delegates to the engine's web-scale CC operator);
    canonical_id = the cluster's MINIMUM doc id (deterministic, join-free
    to recompute).  Docs in no pair map to themselves.  Downstream keep
    filter: ``result.filter(col("doc_id") == col("canonical_id"))``.
    """
    from ahrd_spark.operators.connected_components import connected_components

    edges = pairs.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v"))
    cc = connected_components(edges)
    return (
        df.select(F.col(id_col).alias("node"))
        .distinct()
        .join(cc, "node", "left")
        .select(
            F.col("node").alias(id_col),
            F.coalesce("component", "node").alias("canonical_id"),
        )
    )


def duplicate_spans(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """-> (doc_id, span_start, span_end, n_windows): maximal merged token
    spans (1-based, inclusive) covered by k-gram windows whose gram occurs
    in at least ``min_docs`` DISTINCT documents.

    Cross-document repeated-passage detection — the span-level complement
    to whole-doc dedup (exact/minhash above): boilerplate headers, license
    blocks, and templated paragraphs repeat across otherwise-distinct
    documents, and removing just those spans keeps the unique remainder.
    A doc whose passage repeats only WITHIN itself is not flagged (that is
    ``repetition_stats``'s job).

    Scale shape (100 TB corpus):
    - windows explode shingle START positions with the token array carried
      by the Generate and indexed via ``try_element_at`` — all codegen'd
      builtins, no array-lambda interpretation (see minhash_signature);
    - the gram key is ``xxhash64`` over the k token slots, never the
      concatenated string: the doc-frequency shuffle and the hot-gram join
      move 8 bytes per window instead of ~k tokens of text (the usual
      fingerprint-not-payload trade, same as MinHash: a 2^-64 per-pair
      collision chance can over-flag a span, never miss one);
    - gram doc-frequency is a two-phase agg (per-doc distinct map-side,
      then gram-keyed count) and the hot-gram set is joined back WITHOUT a
      broadcast hint — boilerplate corpora make it data-sized, AQE decides;
    - interval merge is a per-doc window function (one doc-keyed shuffle),
      never a driver-side loop.
    """
    from pyspark.sql import Window

    toks = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    base = docs.select(
        F.col(id_col).alias("doc_id"), toks.alias("toks"),
        F.size(toks).alias("n"),
    )
    pos = F.explode(
        F.sequence(F.lit(1), F.greatest(F.col("n") - (k - 1), F.lit(1)))
    )
    with_pos = base.select("doc_id", "toks", "n", pos.alias("pos"))
    gram = F.xxhash64(
        *[F.try_element_at("toks", F.col("pos") + i) for i in range(k)]
    )
    w = with_pos.select(
        "doc_id",
        "pos",
        F.least(F.col("pos") + F.lit(k - 1), F.col("n")).alias("end"),
        gram.alias("gram"),
    )

    hot = (
        w.select("gram", "doc_id").distinct()
        .groupBy("gram").agg(F.count("*").alias("df"))
        .filter(F.col("df") >= min_docs)
        .select("gram")
    )
    flagged = w.join(hot, "gram").select("doc_id", "pos", "end")

    # merge overlapping-or-adjacent windows into maximal spans: a window
    # starts a new span iff it begins past (running max end) + 1
    win = Window.partitionBy("doc_id").orderBy("pos")
    prev_end = F.max("end").over(
        win.rowsBetween(Window.unboundedPreceding, -1)
    )
    grouped = flagged.withColumn(
        "new_span",
        F.when(
            prev_end.isNull() | (F.col("pos") > prev_end + 1), F.lit(1)
        ).otherwise(F.lit(0)),
    ).withColumn(
        "span_grp",
        F.sum("new_span").over(
            win.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    return (
        grouped.groupBy("doc_id", "span_grp")
        .agg(
            F.min("pos").alias("span_start"),
            F.max("end").alias("span_end"),
            F.count("*").alias("n_windows"),
        )
        .select("doc_id", "span_start", "span_end", "n_windows")
    )


def remove_duplicate_spans(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """-> (doc_id, clean_text, n_tokens, n_removed): documents with the
    cross-document duplicate spans found by :func:`duplicate_spans` cut
    out of the token stream — the curation end product of span detection
    (keep the unique remainder, drop the shared boilerplate).

    ``clean_text`` is the surviving tokens re-joined with single spaces
    (same whitespace/lowercase normalization as the detector, so offsets
    line up by construction); ``n_removed`` counts dropped tokens.  Docs
    with no flagged span pass through with ``n_removed = 0``; a doc that
    is ALL boilerplate yields ``clean_text = ''``.

    Scale shape: spans per doc are few and disjoint (maximal merged
    intervals), so they are collect_list'd into a per-doc array and
    joined back doc-keyed (AQE decides the strategy — the span table is
    data-sized, no broadcast hint).  Token filtering is a codegen'd
    array ``filter`` with the positional lambda probing that tiny span
    array — no explode of the token stream, no second shuffle past the
    doc-keyed join.
    """
    spans = (
        duplicate_spans(docs, text_col, id_col, k, min_docs)
        .groupBy("doc_id")
        .agg(
            F.collect_list(
                F.struct(
                    F.col("span_start").alias("s"), F.col("span_end").alias("e")
                )
            ).alias("spans")
        )
    )
    toks = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    base = docs.select(F.col(id_col).alias("doc_id"), toks.alias("toks"))
    joined = base.join(spans, "doc_id", "left")
    # 1-based token position i+1 survives iff no span covers it
    kept = F.filter(
        F.col("toks"),
        lambda x, i: ~F.exists(
            F.col("spans"),
            lambda sp: (i + 1 >= sp["s"]) & (i + 1 <= sp["e"]),
        ),
    )
    kept = F.when(F.col("spans").isNull(), F.col("toks")).otherwise(kept)
    return joined.select(
        "doc_id",
        F.array_join(kept, " ").alias("clean_text"),
        F.size("toks").cast("long").alias("n_tokens"),
        (F.size("toks") - F.size(kept)).cast("long").alias("n_removed"),
    )


def containment_pairs(
    df: DataFrame, pairs: DataFrame, text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Asymmetric token-set containment for (doc_a, doc_b) candidate
    pairs -> (doc_a, doc_b, containment_a, containment_b, jaccard) with
    ``containment_a = |A∩B| / |A|``.

    Containment catches what Jaccard structurally cannot: a short
    article fully embedded in a long boilerplate-heavy page scores
    Jaccard ≈ |A|/|B| (tiny) but containment_a = 1.0 — the doc-inside-doc
    pattern that dominates web-scrape near-duplication.  Keep the pair
    when EITHER direction exceeds the threshold, not just the symmetric
    score.

    Same shape as ``jaccard_pairs``: two id-keyed joins against the
    token-set projection (AQE broadcasts whichever side is small), one
    intersect per pair.
    """
    toksets = df.select(
        F.col(id_col).alias("doc_id"),
        F.array_distinct(
            F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
        ).alias("toks"),
    )
    inter = F.size(F.array_intersect("toks_a", "toks_b")).cast("double")
    return (
        pairs.join(
            toksets.withColumnRenamed("doc_id", "doc_a")
            .withColumnRenamed("toks", "toks_a"),
            "doc_a",
        )
        .join(
            toksets.withColumnRenamed("doc_id", "doc_b")
            .withColumnRenamed("toks", "toks_b"),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            (inter / F.size("toks_a")).alias("containment_a"),
            (inter / F.size("toks_b")).alias("containment_b"),
            (
                inter
                / F.size(F.array_union("toks_a", "toks_b"))
            ).alias("jaccard"),
        )
    )


def blocking_quality(
    cand_pairs: DataFrame,
    gold_pairs: DataFrame,
    n_records: int | None = None,
    a_col: str = "a",
    b_col: str = "b",
) -> DataFrame:
    """Blocking-scheme evaluation for entity resolution / dedup -> ONE
    row ``(n_cand, n_gold, n_matched, pair_completeness_r,
    pair_precision_r, reduction_ratio_r)``: the two standard blocking
    metrics (Christen, "Data Matching", 2012) —

    * pair completeness = matched gold pairs / all gold pairs (the
      recall a blocking scheme caps downstream matching at — the number
      that decides whether an LSH/canopy configuration is usable);
    * pair precision   = matched gold pairs / candidate pairs;
    * reduction ratio  = 1 - candidates / (n·(n-1)/2), NULL when
      ``n_records`` is not given.

    Both inputs are UNORDERED pair sets: rows normalize to
    (least, greatest), self-pairs drop, duplicates collapse — so callers
    can feed raw LSH bucket expansions or ordered join output directly.

    Scale shape: two distinct-aggregates on the normalized pair key and
    one pair-keyed semi-join (co-partitioned both sides), then 1-row
    count aggregates — nothing driver-side, output is one row.
    """
    def norm(df):
        a, b = F.col(a_col).cast("string"), F.col(b_col).cast("string")
        return (
            df.select(
                F.least(a, b).alias("pa"), F.greatest(a, b).alias("pb")
            )
            .where(F.col("pa") != F.col("pb"))
            .distinct()
        )

    cand = norm(cand_pairs)
    gold = norm(gold_pairs)
    matched = gold.join(cand, ["pa", "pb"], "left_semi")
    n_cand = cand.agg(F.count(F.lit(1)).alias("n_cand"))
    n_gold = gold.agg(F.count(F.lit(1)).alias("n_gold"))
    n_matched = matched.agg(F.count(F.lit(1)).alias("n_matched"))
    # deliberate 1-row BNLJ metric assembly (same convention as
    # events.py::active_users) — no broadcast hint: this module consumes
    # the docs/hits stream, and test_plan_shapes bans stream-side hints
    row = n_cand.crossJoin(n_gold).crossJoin(n_matched)
    total_pairs = (
        F.lit(float(n_records * (n_records - 1) / 2))
        if n_records is not None
        else None
    )
    return row.select(
        F.col("n_cand").cast("bigint").alias("n_cand"),
        F.col("n_gold").cast("bigint").alias("n_gold"),
        F.col("n_matched").cast("bigint").alias("n_matched"),
        F.when(
            F.col("n_gold") > 0,
            F.round(F.col("n_matched") / F.col("n_gold"), 6),
        ).alias("pair_completeness_r"),
        F.when(
            F.col("n_cand") > 0,
            F.round(F.col("n_matched") / F.col("n_cand"), 6),
        ).alias("pair_precision_r"),
        (
            F.round(F.lit(1.0) - F.col("n_cand") / total_pairs, 6)
            if total_pairs is not None
            else F.lit(None).cast("double")
        ).alias("reduction_ratio_r"),
    )


def setsim_join(
    df: DataFrame,
    threshold: float,
    id_col: str = "doc_id",
    tokens_col: str = "toks",
    allow_low_threshold: bool = False,
) -> DataFrame:
    """EXACT Jaccard threshold self-join via prefix filtering
    (SSJoin/PPJoin family: Chaudhuri et al., ICDE 2006; Xiao et al.,
    WWW 2008) -> ``(id_a, id_b, jaccard_r)`` for every UNORDERED pair of
    rows whose token-SET Jaccard is >= ``threshold`` — the exact
    complement to the MinHash-LSH path: no false negatives, for the
    threshold regimes (>= ~0.5) where prefix filtering stays
    subquadratic.

    The guarantee: order every document's distinct tokens by the one
    GLOBAL canonical order (document frequency ascending, then token —
    rare-first, the ordering that makes prefixes selective); a document
    of n tokens keeps a prefix of ``n - ceil(threshold*n) + 1``.  Any
    pair with Jaccard >= threshold MUST share a token inside both
    prefixes (suffix-only overlap is < ceil(threshold*n) on the smaller
    side, below the overlap a qualifying pair needs), so generating
    candidates only from shared prefix tokens loses nothing — the
    driver oracle checks this against a BRUTE-FORCE all-pairs replay.

    Scale shape: token df is one hash aggregate; the canonical re-sort
    is per-row array work after one token-keyed join; candidates come
    from the prefix-token self-join (token-keyed, both sides pruned to
    prefixes — rare tokens by construction, so per-token fan-out stays
    small; the frequent tokens that would flood a bucket sort to the
    END of every document and rarely enter a prefix); verification is
    per-pair array intersection after a pair-keyed dedup.  Thresholds
    and the emitted Jaccard compare at ROUND-6, so engine ulp noise
    cannot flip membership.

    THRESHOLD REGIME GUARD: below ``threshold`` 0.5 the prefix
    ``n - ceil(t*n) + 1`` approaches the whole document, the candidate
    self-join degenerates toward all-pairs, and the plan that sails at
    sf0.01 melts at 100 TB — so t < 0.5 RAISES (the kcore/reach_delta
    "raise, don't silently degrade" convention).  Callers who truly
    want a low-threshold run on a bounded input opt in explicitly with
    ``allow_low_threshold=True`` (a warning is emitted); the scalable
    low-threshold path is MinHash-LSH (``lsh_candidate_pairs``), which
    trades exactness for bounded bucket fan-out.
    """
    if not 0.0 < threshold <= 1.0:
        raise ValueError("threshold must be in (0, 1]")
    if threshold < 0.5 and not allow_low_threshold:
        raise ValueError(
            "setsim_join: threshold < 0.5 leaves the subquadratic "
            "prefix-filter regime (prefixes cover most of each "
            "document and the candidate join degenerates toward "
            "all-pairs at scale). Use the MinHash-LSH path for low "
            "thresholds, or pass allow_low_threshold=True for a "
            "bounded input you accept the quadratic risk on."
        )
    if threshold < 0.5:
        import warnings

        warnings.warn(
            "setsim_join running below the subquadratic threshold "
            "regime (t < 0.5, allow_low_threshold=True): candidate "
            "generation may approach all-pairs on large inputs",
            RuntimeWarning,
            stacklevel=2,
        )
    t = F.lit(float(threshold))
    base = df.select(
        F.col(id_col).cast("string").alias("id"),
        F.array_distinct(F.col(tokens_col)).alias("toks"),
    ).where(F.size("toks") > 0)

    tok_df = (
        base.select(F.explode("toks").alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("tdf"))
    )
    # canonical rare-first order: re-sort each doc's tokens by (df, tok)
    ordered = (
        base.select("id", F.explode("toks").alias("tok"))
        .join(tok_df, "tok")
        .groupBy("id")
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("tdf", "tok"))
                ),
                lambda s: s["tok"],
            ).alias("toks")
        )
    )
    n = F.size("toks")
    # round before ceil: 0.6*5 must be 3, not the 3.0000000000000004 ulp
    prefix_len = n - F.ceil(F.round(t * n, 9)).cast("int") + 1
    prefixed = ordered.select(
        "id", "toks", F.slice("toks", 1, prefix_len).alias("prefix")
    )
    cand = (
        prefixed.select("id", F.explode("prefix").alias("tok"))
        .alias("x")
        .join(
            prefixed.select(
                F.col("id").alias("id_b"), F.explode("prefix").alias("tok")
            ).alias("y"),
            "tok",
        )
        .where(F.col("x.id") < F.col("y.id_b"))
        .select(F.col("x.id").alias("id_a"), "id_b")
        .distinct()
    )
    a = prefixed.select(
        F.col("id").alias("id_a"), F.col("toks").alias("toks_a")
    )
    b = prefixed.select(
        F.col("id").alias("id_b"), F.col("toks").alias("toks_b")
    )
    inter = F.size(F.array_intersect("toks_a", "toks_b"))
    union = F.size("toks_a") + F.size("toks_b") - inter
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(inter / union, 6).alias("jaccard_r"),
        )
        .where(F.col("jaccard_r") >= F.round(t, 6))
    )
