"""Corpus-scrubbing operators for training-data pipelines: PII
redaction and train/eval decontamination.

Both are pure DataFrame compositions — regexp projections and a
broadcast semi-join — JVM-side end to end, no Python in the hot path.

The regex dialect is restricted to the intersection of Java regex
(Spark) and RE2 (DuckDB oracle): character classes, bounded repeats and
``\\b`` word boundaries only — no backrefs or lookarounds — so both
engines match identical spans.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pyspark_recs.llmops.dedup import shingle_hashes
from pyspark_recs.llmops.textstats import tokens

# Dialect-portable PII patterns (Java regex == RE2 semantics for these).
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_RE = r"\b\d{3}-\d{3}-\d{4}\b"
CARD_RE = r"\b\d{16}\b"


def synthesize_pii(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Deterministically inject PII spans into a synthetic corpus (the
    testdata has none), so the redaction path is exercised non-vacuously
    — same convention as the synthesized image URLs in multimodal.py.
    Injection is keyed on doc_id, so both engines build byte-identical
    inputs."""
    doc_id = F.col("doc_id")
    text = F.col(text_col)
    text = F.when(
        doc_id % 7 == 0,
        F.concat(text, F.lit(" contact user"), doc_id, F.lit("@example.com")),
    ).otherwise(text)
    text = F.when(
        doc_id % 11 == 0,
        F.concat(
            text,
            F.lit(" call 415-555-"),
            F.lpad((doc_id % 10000).cast("string"), 4, "0"),
        ),
    ).otherwise(text)
    text = F.when(
        doc_id % 13 == 0, F.concat(text, F.lit(" card 4242424242424242"))
    ).otherwise(text)
    return df.withColumn(text_col, text)


def pii_redact(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Redact emails / phone numbers / 16-digit card numbers to typed
    placeholder tokens, reporting per-document match counts and a digest
    of the redacted text (the digest proves byte-identical redaction
    across engines, partitionings and re-runs).

    Scale: one projection — three regexp passes inside whole-stage
    codegen; no shuffle, no Python. At 100 TB this runs at scan
    throughput and composes with any downstream filter."""
    text = F.col(text_col)
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(text, EMAIL_RE, "<EMAIL>"),
            PHONE_RE,
            "<PHONE>",
        ),
        CARD_RE,
        "<CARD>",
    )
    return df.select(
        "doc_id",
        F.size(F.regexp_extract_all(text, F.lit(EMAIL_RE), F.lit(0)))
        .cast("int")
        .alias("n_emails"),
        F.size(F.regexp_extract_all(text, F.lit(PHONE_RE), F.lit(0)))
        .cast("int")
        .alias("n_phones"),
        F.size(F.regexp_extract_all(text, F.lit(CARD_RE), F.lit(0)))
        .cast("int")
        .alias("n_cards"),
        F.length(redacted).cast("int").alias("redacted_len"),
        F.md5(redacted).alias("redacted_md5"),
    )


def boilerplate_grams(
    docs: DataFrame,
    min_df: int = 3,
    shingle_n: int = 3,
    text_col: str = "text",
) -> DataFrame:
    """Cross-document boilerplate detection (the C4 repeated-content
    filter signal at corpus granularity, complementing l22's intra-doc
    repetition): an n-gram is boilerplate when it occurs in ≥ ``min_df``
    distinct documents; each document reports what fraction of its
    distinct n-grams are boilerplate.

    Returns (doc_id, n_grams, n_boiler, boiler_frac).

    Scale: grams are integer Horner folds (no strings). One
    map-side-combined groupBy computes corpus document frequencies; the
    grams→frequency join is a shuffle equi-join on the gram hash where
    BOTH sides partition on the same key, so the gram exchange is
    planned once and reused (ReusedExchange) — the expensive
    tokenize+fold+explode projection runs a single time. The final
    per-doc rollup counts grams and boilerplate hits in ONE
    combiner-friendly aggregate (a df-threshold conditional sum), which
    also removes the per-doc left join the 3-branch form needed.
    (The frequency side grows with the corpus, so it is NOT assumed
    broadcastable — Spark/AQE may still broadcast it when small.)
    Measured 2.3 s → 1.2 s at sf0.1 over the 3-branch form."""
    from pyspark_recs.io.loaders import spread_partitions

    long_enough = F.size(tokens(F.col(text_col))) >= shingle_n
    grams = spread_partitions(docs.filter(long_enough)).select(
        "doc_id",
        F.explode(shingle_hashes(F.col(text_col), shingle_n)).alias("gram"),
    )
    # shingle_hashes emits per-doc-distinct grams, so count(*) == count
    # of distinct docs containing the gram.
    dfreq = grams.groupBy("gram").agg(F.count(F.lit(1)).alias("df"))
    return (
        grams.join(dfreq, "gram")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum((F.col("df") >= min_df).cast("long")).alias("n_boiler"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_boiler",
            (
                F.col("n_boiler").cast("double") / F.col("n_grams").cast("double")
            ).alias("boiler_frac"),
        )
    )


def novelty_gate(
    batch: DataFrame,
    corpus: DataFrame,
    admit_threshold: float = 0.5,
    shingle_n: int = 3,
    text_col: str = "text",
) -> DataFrame:
    """Incremental-ingestion novelty gating: score each new-batch
    document by the fraction of its n-grams never seen in the existing
    corpus, and admit it iff novelty ≥ threshold. This is the
    incremental crawl-dedup primitive — at 100 TB you never re-dedup
    the whole corpus against itself; you gate each arriving batch
    against the corpus gram index (in production a persisted
    bucketed table or Bloom index; semantically this anti-join).

    Returns (doc_id, n_grams, n_novel, novelty_frac, admit) for every
    batch document with ≥ ``shingle_n`` words.

    Scale: one shuffle equi-join on the gram hash between the (small)
    batch grams and the corpus gram set; per-doc rollups are
    combiner-friendly. Collisions in the Horner fold can only lower
    novelty — the conservative direction for a dedup gate."""
    from pyspark_recs.io.loaders import spread_partitions

    long_enough = F.size(tokens(F.col(text_col))) >= shingle_n
    batch_grams = spread_partitions(batch.filter(long_enough)).select(
        "doc_id",
        F.explode(shingle_hashes(F.col(text_col), shingle_n)).alias("gram"),
    )
    corpus_grams = (
        spread_partitions(corpus.filter(long_enough))
        .select(F.explode(shingle_hashes(F.col(text_col), shingle_n)).alias("gram"))
        .distinct()
    )
    # One LEFT join with a seen-marker instead of (anti join + count
    # join-back): the batch gram projection runs once and the per-doc
    # totals and novel counts come out of the same aggregate.
    seen = corpus_grams.withColumn("seen", F.lit(1))
    frac = F.col("n_novel").cast("double") / F.col("n_grams").cast("double")
    return (
        batch_grams.join(seen, "gram", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.col("seen").isNull().cast("long")).alias("n_novel"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_novel",
            frac.alias("novelty_frac"),
            (frac >= F.lit(admit_threshold)).alias("admit"),
        )
    )


def decontaminate(
    train: DataFrame,
    benchmark: DataFrame,
    shingle_n: int = 5,
    text_col: str = "text",
    bench_grams: DataFrame | None = None,
) -> DataFrame:
    """Train/eval decontamination: flag training documents sharing any
    ``shingle_n``-gram with a benchmark (eval) set — the standard
    n-gram-overlap decontamination pass every pre-training pipeline runs
    before releasing a corpus.

    Returns (doc_id, contaminated) for every training document.

    Scale: benchmark n-grams are DISTINCT'd then semi-joined against the
    exploded training n-grams. The benchmark side is eval-set sized
    (thousands of docs), so Spark broadcasts it and the pass is one scan
    of the corpus with a broadcast-hash semi-join per gram — no
    all-pairs, no shuffle of the corpus. Grams are integer Horner folds
    of per-word hashes (``shingle_hashes``), never materialized n-word
    strings — measured ~7x cheaper at bench scale, and collisions can
    only ever over-flag (the conservative direction for
    decontamination). The oracle twin reproduces the identical
    md5-derived fold, so the hash choice is still exactly checked.

    ``bench_grams`` (one ``gram`` column, pre-DISTINCT'd) lets callers
    share a materialized benchmark index across decontamination passes
    — the index is identical for the doc-level and span-level variants,
    so pipelines build it once (workloads._bench_grams5)."""
    # Guard: shingle_hashes slices assume ≥ n words; shorter docs have no
    # n-grams and are definitionally uncontaminated.
    from pyspark_recs.io.loaders import spread_partitions

    long_enough = F.size(tokens(F.col(text_col))) >= shingle_n
    if bench_grams is None:
        bench_grams = (
            benchmark.filter(long_enough)
            .select(
                F.explode(
                    shingle_hashes(F.col(text_col), shingle_n)
                ).alias("gram")
            )
            .distinct()
        )
    train_grams = spread_partitions(train.filter(long_enough)).select(
        "doc_id",
        F.explode(shingle_hashes(F.col(text_col), shingle_n)).alias("gram"),
    )
    hits = (
        train_grams.join(F.broadcast(bench_grams), "gram", "left_semi")
        .select("doc_id")
        .distinct()
        .withColumn("contaminated", F.lit(True))
    )
    return (
        train.select("doc_id")
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("contaminated"), F.lit(False)).alias("contaminated"),
        )
    )


def fuzzy_decontaminate(
    train: DataFrame,
    benchmark: DataFrame,
    rows_per_band: int = 2,
    text_col: str = "text",
    train_sigs: DataFrame | None = None,
    bench_sigs: DataFrame | None = None,
) -> DataFrame:
    """FUZZY train/eval decontamination: flag training documents whose
    MinHash signature shares any LSH band with any benchmark document —
    the GPT-3-style near-duplicate contamination pass that catches
    paraphrased/partially-edited eval leakage ``decontaminate``'s exact
    n-gram match misses. With 2-row bands over 64-permutation
    signatures, a train doc sharing ≈ Jaccard s of shingles with an
    eval doc collides in at least one band with probability
    1−(1−s²)³² (s=0.8 → 0.9999…), while unrelated docs almost never do.

    Returns (doc_id, contaminated_fuzzy) for every training document
    (docs too short to shingle are definitionally clean).

    Scale: signatures are pure projections; the benchmark band index is
    DISTINCT'd (eval-set-sized × bands) and the flagging is ONE
    left-semi equi-join on the band key — O(train bands), never
    pairwise. Collisions only ever over-flag, the conservative
    direction. Same shape as ``novelty_gate`` but at the signature
    level, so cost is independent of document length.

    ``train_sigs`` / ``bench_sigs`` let callers pass pre-materialized
    signature tables (MinHash is a pure per-row projection, so a shared
    whole-corpus signature table filtered by the split predicate is
    identical to signing each split separately).
    """
    from pyspark_recs.llmops.dedup import band_keys, minhash_signatures

    if train_sigs is None:
        train_sigs = minhash_signatures(train, text_col)
    if bench_sigs is None:
        bench_sigs = minhash_signatures(benchmark, text_col)
    train_bands = band_keys(train_sigs, rows_per_band)
    bench_bands = (
        band_keys(bench_sigs, rows_per_band).select("band_key").distinct()
    )
    hits = (
        train_bands.join(bench_bands, "band_key", "left_semi")
        .select("doc_id")
        .distinct()
        .withColumn("contaminated_fuzzy", F.lit(True))
    )
    return (
        train.select("doc_id")
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("contaminated_fuzzy"), F.lit(False)).alias(
                "contaminated_fuzzy"
            ),
        )
    )


def decontaminate_spans(
    train: DataFrame,
    benchmark: DataFrame,
    shingle_n: int = 5,
    text_col: str = "text",
    bench_grams: DataFrame | None = None,
) -> DataFrame:
    """SPAN-LEVEL train/eval decontamination: instead of dropping whole
    flagged documents (``decontaminate``), surgically excise only the
    token windows that overlap a benchmark n-gram and keep the rest —
    the C4-style line/span removal that preserves the 99% of a long
    document an incidental quote would otherwise cost. A token is
    removed iff it lies inside any [i, i+n-1] window whose n-gram hash
    appears in the benchmark set; everything else survives in order.

    Returns (doc_id, n_tokens, n_removed, clean_md5) for every training
    document — the digest proves byte-identical excision across
    engines/partitionings, and n_removed is the audit number reviewers
    ask for ("how much text did decontamination cost?").

    Scale: benchmark grams are eval-set-sized and BROADCAST; the only
    per-corpus work is one scan (positional Horner folds are pure
    projections), one broadcast semi-join per gram position, and a
    per-doc collect of contaminated START positions (bounded by matches
    per doc, not doc length). The excision itself is a JVM-side
    higher-order filter — no Python, no shuffle of document text.
    """
    from pyspark_recs.llmops.dedup import shingle_hashes
    from pyspark_recs.llmops.hashing import MINHASH_PRIME, SHINGLE_BASE, md5_long

    if bench_grams is None:
        bench = (
            benchmark.filter(F.size(tokens(F.col(text_col))) >= shingle_n)
            .select(
                F.explode(
                    shingle_hashes(F.col(text_col), shingle_n)
                ).alias("g")
            )
            .distinct()
        )
    else:
        # Same pre-built index decontaminate() shares (column "gram").
        bench = bench_grams.select(F.col("gram").alias("g"))

    from pyspark_recs.io.loaders import spread_partitions

    tr = spread_partitions(
        train.select("doc_id", tokens(F.col(text_col)).alias("toks"))
    )
    # Word hashes as their own projection: inlined, the shingle_n slice
    # references would re-run the md5 transform shingle_n times per doc
    # (same fix as l72 — measured ~25% off the whole query at sf0.1).
    hashed = tr.select(
        "doc_id",
        "toks",
        F.transform(
            F.col("toks"), lambda w: md5_long(w) % MINHASH_PRIME
        ).alias("wh"),
    )
    wh = F.col("wh")
    m = F.greatest(F.size(F.col("toks")) - (shingle_n - 1), F.lit(0))
    acc = F.slice(wh, 1, m)
    for j in range(1, shingle_n):
        acc = F.zip_with(
            acc,
            F.slice(wh, 1 + j, m),
            lambda a, b: (a * F.lit(SHINGLE_BASE) + b) % MINHASH_PRIME,
        )
    # SNAPSHOT the tokenized+folded frame (r12-opt, guide §3.3): the
    # plan consumes it twice (the starts branch and the final rebuild),
    # and worse, InferFiltersFromGenerate used to push a
    # `size(pos_grams) > 0 AND isnotnull(pos_grams)` predicate BELOW
    # the projections — re-inlining the whole tokenize→md5→Horner
    # chain into a scan-side Filter that evaluated it twice more per
    # row (l64's physical plan showed that Filter above the scan).
    # Materializing (doc_id, toks, pos_grams) once runs the expensive
    # projection exactly once; both consumers read the snapshot
    # (spread_partitions above parallelizes the build — the raw
    # parquet is a single split at test SF).
    snap = hashed.select(
        "doc_id", "toks", acc.alias("pos_grams")
    ).localCheckpoint(eager=True)
    starts = (
        snap.select(
            "doc_id", F.posexplode("pos_grams").alias("pos", "g")
        )
        .join(F.broadcast(bench), "g", "left_semi")
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_set("pos")).alias("starts"))
    )
    covered = F.array_distinct(
        F.flatten(
            F.transform(
                F.coalesce(F.col("starts"), F.array()),
                lambda st: F.sequence(st, st + (shingle_n - 1)),
            )
        )
    )
    kept = F.filter(
        F.col("toks"), lambda t, i: ~F.array_contains(F.col("covered"), i)
    )
    # Join on doc_id back to the SNAPSHOT (not the raw scan): the left
    # side is already materialized, so this branch pays no second
    # tokenize pass. On THIS protocol the benchmark is a slice of the
    # corpus itself, so most documents are contaminated and `starts`
    # is corpus-sized; for a production corpus where contamination is
    # the rare exception, F.broadcast(starts) keeps the snapshot
    # un-shuffled.
    return (
        snap.select("doc_id", "toks").join(starts, "doc_id", "left")
        .withColumn("covered", covered)
        .withColumn("kept", kept)
        .select(
            "doc_id",
            F.size("toks").alias("n_tokens"),
            (F.size("toks") - F.size("kept")).alias("n_removed"),
            F.md5(F.array_join("kept", " ")).alias("clean_md5"),
        )
    )
