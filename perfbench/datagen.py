"""Seeded input generation. Every table is a pure function of the seed and
the sizes, built with NumPy in the benchmark process, so two runs with one seed feed
the engine byte-identical parquet files."""

from __future__ import annotations

import datetime as dt

import numpy as np
import pyarrow as pa

EPOCH = dt.datetime(2020, 1, 1)

# the words of the repo's synthetic documents corpus plus 600 made-up ones:
# with this many words, unrelated documents share almost no word 3-grams, so
# the near-duplicate structure (and the work LSH and clustering do) is the
# designed one on every seed
VOCAB = (
    "key agg row scan slow fast table value part hash batch merge spark sort "
    "window line join order group data column query stream filter vector "
    "customer small big"
).split() + [f"w{i}" for i in range(600)]
STOPWORDS = {
    "en": ["the", "and", "of", "to", "is", "a"],
    "de": ["der", "die", "und", "das", "ist", "nicht"],
    "fr": ["le", "la", "et", "les", "des", "est"],
    "es": ["el", "la", "los", "que", "es", "de"],
}
CJK = list("数据表查询流")


def orders(seed: int, n: int) -> pa.Table:
    rng = np.random.default_rng([seed, 1])
    days = rng.integers(0, 2 * 365, n)
    return pa.table(
        {
            "o_orderkey": np.arange(n, dtype=np.int64),
            "o_custkey": rng.integers(0, max(n // 10, 1), n, dtype=np.int64),
            "o_orderstatus": rng.choice(np.array(["F", "O", "P"]), n),
            "o_totalprice": np.round(rng.uniform(1000, 500000, n), 2),
            "o_orderdate": pa.array(
                [EPOCH + dt.timedelta(days=int(d)) for d in days], pa.timestamp("us")
            ),
            "o_orderpriority": rng.choice(np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "5-LOW"]), n),
        }
    )


def lineitem(seed: int, batch: int, n: int, n_orders: int, first_day: int, n_days: int) -> pa.Table:
    """One lineitem batch; ``batch`` keys the stream so batches differ but
    each is reproducible on its own. Ship dates fall in the ``n_days`` days
    from ``first_day`` (days after EPOCH)."""
    rng = np.random.default_rng([seed, 2, batch])
    qty = rng.integers(1, 51, n).astype(np.float64)
    days = first_day + rng.integers(0, n_days, n)
    return pa.table(
        {
            "l_orderkey": rng.integers(0, n_orders, n, dtype=np.int64),
            "l_partkey": rng.integers(0, 2000, n, dtype=np.int64),
            "l_suppkey": rng.integers(0, 100, n, dtype=np.int64),
            "l_linenumber": rng.integers(1, 8, n, dtype=np.int32),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n), 2),
            "l_discount": np.round(rng.integers(0, 11, n) / 100.0, 2),
            "l_tax": np.round(rng.integers(0, 9, n) / 100.0, 2),
            "l_returnflag": rng.choice(np.array(["A", "N", "R"]), n),
            "l_linestatus": rng.choice(np.array(["F", "O"]), n),
            "l_shipdate": pa.array(
                [EPOCH + dt.timedelta(days=int(d)) for d in days], pa.timestamp("us")
            ),
        }
    )


def documents(seed: int, n_base: int, replicas: int) -> pa.Table:
    """A base corpus of ``n_base`` random-word documents, replicated
    ``replicas`` times: replica 0 is the original, others append a variant
    token or swap one word, so LSH finds near-duplicate clusters; every
    25th base document is an exact copy of its predecessor."""
    rng = np.random.default_rng([seed, 3])
    langs = ["en", "en", "de", "fr", "es", "zh"]
    base_text, base_lang = [], []
    for i in range(n_base):
        lang = langs[int(rng.integers(0, len(langs)))]
        n_words = int(rng.integers(12, 70))
        words = [VOCAB[j] for j in rng.integers(0, len(VOCAB), n_words)]
        stops = STOPWORDS.get(lang, [])
        for _ in range(int(rng.integers(0, 4)) if stops else 0):
            words.insert(int(rng.integers(0, len(words))), stops[int(rng.integers(0, len(stops)))])
        if lang == "zh":
            words.append("".join(CJK[j] for j in rng.integers(0, len(CJK), 3)))
        text = " ".join(words)
        if i % 25 == 24:
            text = base_text[-1]
        base_text.append(text)
        base_lang.append(lang)
    ids, texts, doc_langs, sources = [], [], [], []
    for r in range(replicas):
        for i, text in enumerate(base_text):
            if r:
                words = text.split(" ")
                if r % 2:
                    words.append(f"variant{r}")
                else:
                    words[int(rng.integers(0, len(words)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
                text = " ".join(words)
            ids.append(i * replicas + r)
            texts.append(text)
            doc_langs.append(base_lang[i])
            sources.append(f"src{i % 20}")
    return pa.table(
        {
            "doc_id": pa.array(ids, pa.int64()),
            "text": texts,
            "lang": doc_langs,
            "source": sources,
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
