"""Seeded input generators, one per workload.

Every generator is a pure function of its seed and size arguments: the
same seed gives byte-identical inputs, another seed different ones. The
program under test only ever sees what these functions return.
"""

from __future__ import annotations

import json
from dataclasses import dataclass

import numpy as np

# The flow's split boundaries (FlowConfig defaults) and the 8-week window
# of purchase dates that straddles them.
TRAIN_END = "2020-09-08"
VALID_END = "2020-09-15"
FIRST_DAY = np.datetime64("2020-07-28")
N_DAYS = 57
N_SEGMENTS = 20

# Two ETL batches per raw table: a complete latest batch and an older,
# partial one that the staging layer's latest-batch filter must drop.
STALE_BATCH = ("stale-batch", 1_600_000_000_000)
LATEST_BATCH = ("latest-batch", 1_700_000_000_000)
STALE_SHARE = 0.2   # rows of each table repeated in the stale batch

ARTICLE_INT_FIELDS = (
    "product_code", "product_type_no", "graphical_appearance_no",
    "colour_group_code", "perceived_colour_value_id",
    "perceived_colour_master_id", "department_no", "index_group_no",
    "section_no", "garment_group_no",
)


def rng_for(seed: int, stream: str) -> np.random.Generator:
    """Independent random stream per (seed, input table)."""
    key = [seed & 0xFFFFFFFF] + [ord(c) for c in stream]
    return np.random.default_rng(key)


def power_law_weights(n: int, exponent: float) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1) ** exponent
    return w / w.sum()


# ---------------------------------------------------------------------------
# flow_train: H&M-shaped raw envelope tables
# ---------------------------------------------------------------------------
@dataclass
class HmTables:
    """Raw envelope rows (etl_timestamp, etl_id, event_type, raw_data) per
    table, both batches included."""

    articles: list
    customers: list
    transactions: list
    images: list


def _envelopes(table: str, rows: list[dict], rng) -> list:
    """Latest batch holds every row; the stale batch a random subset with
    every string value replaced, so letting it through changes results."""
    out = [(LATEST_BATCH[1], LATEST_BATCH[0], table, json.dumps(r)) for r in rows]
    n_stale = int(len(rows) * STALE_SHARE)
    for i in rng.choice(len(rows), size=n_stale, replace=False):
        stale = dict(rows[i])
        if "customer_id" in stale:
            stale["customer_id"] = "stale" + stale["customer_id"]
        if "t_dat" in stale:
            stale["t_dat"] = str(np.datetime64(VALID_END) + 2)
        out.append((STALE_BATCH[1], STALE_BATCH[0], table, json.dumps(stale)))
    return out


def hm_tables(
    seed: int, n_transactions: int, n_customers: int, n_articles: int,
) -> HmTables:
    """H&M-shaped inputs for ``run_flow``: power-law customer activity and
    article popularity, ``''`` customer fields, ~10% of articles without
    an image, exact-duplicate and repeated (customer, article) rows."""
    rng = rng_for(seed, "hm")
    article_ids = 100_000_000 + rng.choice(
        900_000_000, size=n_articles, replace=False
    )
    articles = [
        {
            "article_id": str(a),
            "product_group_name": f"group{a % 7}",
            "index_code": "ABCDEFGHIJ"[a % 10],
            **{f: str(int(v)) for f, v in zip(
                ARTICLE_INT_FIELDS, rng.integers(1, 500, len(ARTICLE_INT_FIELDS))
            )},
        }
        for a in article_ids.tolist()
    ]
    with_image = article_ids[rng.random(n_articles) >= 0.1]
    images = [{"article_id": str(a)} for a in with_image.tolist()]

    customer_ids = [f"{v:016x}" for v in rng.integers(0, 2**63, n_customers)]
    blank = lambda p, v: "" if rng.random() < p else v  # noqa: E731
    customers = [
        {
            "Active": blank(0.6, "1.0"),
            "FN": blank(0.5, "1.0"),
            "age": blank(0.05, str(int(rng.integers(16, 90)))),
            "club_member_status": ["ACTIVE", "PRE-CREATE", "LEFT CLUB"][i % 3],
            "customer_id": c,
            "fashion_news_frequency": ["NONE", "Regularly", "Monthly"][i % 3],
            "postal_code": f"{int(rng.integers(0, 2**40)):010x}",
        }
        for i, c in enumerate(customer_ids)
    ]

    # Each customer and article belongs to one of N_SEGMENTS taste
    # segments; 80% of purchases stay inside the customer's segment, so
    # the model has structure to find and test recall is well above noise.
    # 90% of rows are fresh draws; the rest re-use an earlier (customer,
    # article) pair on another date or, for 30% of those, repeat an
    # earlier row exactly.
    n_fresh = int(n_transactions * 0.9)
    cust = rng.choice(n_customers, size=n_fresh, p=power_law_weights(n_customers, 0.8))
    pop = power_law_weights(n_articles, 1.0)
    art = rng.choice(n_articles, size=n_fresh, p=pop)
    in_segment = rng.random(n_fresh) < 0.8
    # article index i is in segment i % N_SEGMENTS; keep the popularity
    # rank band of the global draw, move it into the customer's segment.
    seg_art = (art // N_SEGMENTS) * N_SEGMENTS + (cust % N_SEGMENTS)
    art = np.where(in_segment & (seg_art < n_articles), seg_art, art)
    day = rng.integers(0, N_DAYS, size=n_fresh)
    n_rep = n_transactions - n_fresh
    src = rng.integers(0, n_fresh, size=n_rep)
    exact = rng.random(n_rep) < 0.3
    rep_day = np.where(exact, day[src], rng.integers(0, N_DAYS, size=n_rep))
    cust = np.concatenate([cust, cust[src]])
    art = np.concatenate([art, art[src]])
    day = np.concatenate([day, rep_day])
    price_cents = rng.integers(100, 10_000, size=n_transactions)
    price_cents[n_fresh:][exact] = price_cents[src][exact]
    channel = rng.integers(1, 3, size=n_transactions)
    channel[n_fresh:][exact] = channel[src][exact]
    dates = (FIRST_DAY + day).astype(str)
    transactions = [
        {
            "article_id": str(article_ids[a]),
            "customer_id": customer_ids[c],
            "price": f"{p / 100:.2f}",
            "sales_channel_id": str(ch),
            "t_dat": d,
        }
        for a, c, p, ch, d in zip(
            art.tolist(), cust.tolist(), price_cents.tolist(),
            channel.tolist(), dates.tolist(),
        )
    ]
    return HmTables(
        articles=_envelopes("articles", articles, rng),
        customers=_envelopes("customers", customers, rng),
        transactions=_envelopes("transactions_train", transactions, rng),
        images=_envelopes("images_to_s3", images, rng),
    )


# ---------------------------------------------------------------------------
# serve_lookup: keyed prediction table + open-loop request schedule
# ---------------------------------------------------------------------------
ITEM_SPACE = 1_000_003
USER_MULT = 7_919
UNKNOWN_SHARE = 0.1     # requests for users outside the table
ZIPF_EXPONENT = 1.1     # skew of the known users' popularity


def item_base(seed: int, user: int) -> int:
    """First item of ``user``'s generated top-k list. The same arithmetic
    runs as a Spark expression in :func:`recs_columns`; every term stays
    far below 2**63, so Spark's long arithmetic cannot overflow."""
    return (user * USER_MULT + (seed % 100_000) * 104_729) % ITEM_SPACE


def expected_recs(seed: int, user: int, k: int) -> list[str]:
    """The list ``point_lookup`` must return for a known user."""
    base = item_base(seed, user)
    return [str((base + r * 31) % ITEM_SPACE) for r in range(k)]


def recs_frame(spark, seed: int, n_users: int, k: int):
    """(user_id, item_id, rank) rows for ``n_users`` users, built as a
    Spark range so a million-user table never passes through Python."""
    from pyspark.sql import functions as F

    ids = spark.range(n_users * k)
    user = (F.col("id") / k).cast("long")
    r = F.col("id") % k
    base = (user * USER_MULT + F.lit((seed % 100_000) * 104_729)) % ITEM_SPACE
    return ids.select(
        user.alias("user_id"),
        ((base + r * 31) % ITEM_SPACE).cast("int").alias("item_id"),
        (r + 1).cast("int").alias("rank"),
    )


@dataclass
class Request:
    due_s: float   # offset from the start of the load
    user_id: str
    known: bool


def request_schedule(
    seed: int, n_users: int, rate: float, n_requests: int,
) -> list[Request]:
    """Requests due at a constant ``rate`` req/s (open loop: due times do
    not depend on answers). Known users are Zipf-skewed over a seeded
    permutation of the user ids; exactly UNKNOWN_SHARE of the requests,
    at seeded positions, ask for ids outside the table, which takes the
    sentinel fallback path."""
    rng = rng_for(seed, "schedule")
    hot = rng.permutation(n_users)
    zipf_rank = np.minimum(rng.zipf(ZIPF_EXPONENT, size=n_requests), n_users) - 1
    unknown = np.zeros(n_requests, dtype=bool)
    unknown[rng.permutation(n_requests)[: round(n_requests * UNKNOWN_SHARE)]] = True
    out = []
    for i, (z, u) in enumerate(zip(zipf_rank.tolist(), unknown.tolist())):
        if u:
            uid = str(n_users + int(rng.integers(0, 10 * n_users)))
        else:
            uid = str(int(hot[z]))
        out.append(Request(due_s=i / rate, user_id=uid, known=not u))
    return out


# ---------------------------------------------------------------------------
# corpus_prep: documents with planted near-duplicates
# ---------------------------------------------------------------------------
STOPWORDS = ("the", "a", "of", "to", "and", "in", "is", "it")
SOURCES = ("web", "books", "news", "code")
DUP_SHARE = 0.2     # documents that are planted near-duplicates
EDIT_SHARE = 0.05   # tokens replaced in each planted copy


@dataclass
class Corpus:
    docs: list[tuple[int, str, str]]   # (doc_id, text, source)
    dup_of: dict[int, int]             # planted copy doc_id -> original doc_id


def _vocab(rng, n: int) -> np.ndarray:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words: set[str] = set()
    while len(words) < n:
        size = int(rng.integers(3, 9))
        words.add("".join(rng.choice(letters, size=size)))
    return np.array(sorted(words))


def corpus(seed: int, n_docs: int) -> Corpus:
    """``n_docs`` documents over a synthetic vocabulary. About 40% are
    built to fail a Gopher rule (too short, too long, words too long, or
    no stopwords); DUP_SHARE are copies of another document with
    EDIT_SHARE of their tokens replaced."""
    rng = rng_for(seed, "corpus")
    vocab = _vocab(rng, 5_000)
    long_words = np.array(["x" * 12 + w for w in vocab[:200]])
    stopwords = np.array(STOPWORDS)
    n_orig = n_docs - int(n_docs * DUP_SHARE)

    # kind < 0.1: too short; < 0.2: too long; < 0.3: words too long;
    # < 0.4: no stopwords; the rest pass.
    kind = rng.random(n_orig)
    length = np.where(
        kind < 0.1, rng.integers(5, 30, n_orig),
        np.where(kind < 0.2, rng.integers(101, 160, n_orig),
                 rng.integers(30, 101, n_orig)))
    texts = []
    for k, n in zip(kind.tolist(), length.tolist()):
        if 0.2 <= k < 0.3:
            words = long_words[rng.integers(0, len(long_words), n)]
        else:
            words = vocab[rng.integers(0, len(vocab), n)]
            if not 0.3 <= k < 0.4:
                stop = rng.random(n) < 0.15
                words[stop] = stopwords[rng.integers(0, 8, int(stop.sum()))]
        texts.append(words)

    src = rng.integers(0, n_orig, n_docs - n_orig)
    for s in src.tolist():
        words = texts[s].copy()
        n_edit = max(1, int(len(words) * EDIT_SHARE))
        where = rng.choice(len(words), size=n_edit, replace=False)
        words[where] = vocab[rng.integers(0, len(vocab), n_edit)]
        texts.append(words)
    # Shuffle doc ids so copies are not always the larger id.
    ids = rng.permutation(n_docs).tolist()
    docs = [(ids[i], " ".join(t), SOURCES[ids[i] % 4]) for i, t in enumerate(texts)]
    dup_of = {ids[n_orig + j]: ids[s] for j, s in enumerate(src.tolist())}
    return Corpus(docs=docs, dup_of=dup_of)
