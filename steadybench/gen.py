"""Seeded input generator for the benchmark.

Every table is written as parquet with the column types declared in
``social_media_big_data_analyzer_spark.schemas.SCHEMAS``; the program
under test only ever sees these files. The same seed gives byte-identical
table contents.

Shapes (why they look like this):

- ``documents``: social-media text. A Zipfian long-tail vocabulary with
  inflected forms (the lemmatizer's Python work scales with distinct
  words, not tokens), stopwords, URLs, @mentions, #tags, digits,
  punctuation and mixed case (the cleaning regex chain). 10 % of the
  documents are near-duplicates of an earlier one (one or two word edits)
  and 2 % are exact copies, so the dedup sketches have true pairs to
  find. Written as several files so that every core gets an input split.
- ``events``: one file (the stream source globs ``events.parquet``),
  time-ordered over 30 days, Zipfian ``user_id``.
- star schema near TPC-H sf0.1 with Zipfian customer and part keys.
- ``embeddings``: 64-d float vectors around 20 cluster centres.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from social_media_big_data_analyzer_spark.schemas import SCHEMAS

EPOCH_2024_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00 in microseconds
EPOCH_1992_US = 694_224_000_000_000  # 1992-01-01T00:00:00 in microseconds
DAY_US = 86_400_000_000

STOPWORDS = (
    "the a an and or but of to in on at for with from by is are was were be "
    "been it its this that these those i you he she we they me my your our "
    "not no so if as than then just very can will do does did have has had "
    "about into over after before up down out more most some any all"
).split()
IRREGULAR = "children men women feet teeth mice geese leaves wives knives lives".split()
# Words the ingest query's sector keyword dimension matches on.
KEYWORDS = "hash join group scan table row stream window".split()
SUFFIXES = ("s", "es", "ing", "ed")
PUNCT = list(".,!?;:")
LANGS = ("en", "es", "fr", "de", "zh")
LANG_P = (0.6, 0.1, 0.1, 0.1, 0.1)
EVENT_TYPES = ("view", "click", "purchase", "signup", "error")
EVENT_P = (0.4, 0.3, 0.1, 0.1, 0.1)


def _arrow_type(t):
    from pyspark.sql import types as T

    if isinstance(t, T.LongType):
        return pa.int64()
    if isinstance(t, T.IntegerType):
        return pa.int32()
    if isinstance(t, T.DoubleType):
        return pa.float64()
    if isinstance(t, T.FloatType):
        return pa.float32()
    if isinstance(t, T.StringType):
        return pa.string()
    if isinstance(t, T.TimestampNTZType):
        return pa.timestamp("us")
    if isinstance(t, T.ArrayType):
        return pa.list_(_arrow_type(t.elementType))
    raise TypeError(f"no arrow mapping for {t}")


def arrow_schema(name: str) -> pa.Schema:
    return pa.schema(
        [pa.field(f.name, _arrow_type(f.dataType)) for f in SCHEMAS[name].fields]
    )


def _table(name: str, cols: dict) -> pa.Table:
    schema = arrow_schema(name)
    return pa.table([pa.array(cols[f.name], type=f.type) for f in schema], schema=schema)


def _write(out_dir: str, name: str, cols: dict, files: int = 1) -> int:
    """Write one table; ``files > 1`` writes a directory of part files."""
    t = _table(name, cols)
    path = os.path.join(out_dir, f"{name}.parquet")
    if files == 1:
        pq.write_table(t, path)
    else:
        os.makedirs(path)
        step = -(-t.num_rows // files)
        for i in range(files):
            pq.write_table(t.slice(i * step, step), os.path.join(path, f"part-{i:03d}.parquet"))
    return t.num_rows


def _zipf_ranks(rng: np.random.Generator, n: int, size: int, s: float = 1.07) -> np.ndarray:
    """Ranks 0..n-1 drawn with p(r) proportional to 1/(r+2.7)^s."""
    p = 1.0 / np.power(np.arange(n) + 2.7, s)
    return rng.choice(n, size=size, p=p / p.sum())


def _base_vocabulary(rng: np.random.Generator, n: int) -> list[str]:
    syll = [c + v for c in "bcdfghjklmnprstvwz" for v in "aeiou"] + ["ar", "en", "or", "ul", "ix"]
    words: set[str] = set()
    while len(words) < n:
        k = rng.integers(2, 5, size=n)
        parts = rng.integers(0, len(syll), size=(n, 4))
        for row, kk in zip(parts, k):
            words.add("".join(syll[j] for j in row[:kk]))
            if len(words) >= n:
                break
    stop = set(STOPWORDS)
    return sorted(w for w in words if w not in stop)[:n]


def _vocabulary(rng: np.random.Generator, n_base: int) -> np.ndarray:
    """Zipf-ordered vocabulary: keywords near the head, then synthetic base
    words each followed (at a lower rank) by its inflections, so inflected
    forms are common enough to matter to the lemmatizer."""
    base = _base_vocabulary(rng, n_base)
    rng.shuffle(base)
    vocab: list[str] = []
    for i, w in enumerate(base):
        vocab.append(w)
        if i % 3 == 0:
            suf = SUFFIXES[i % len(SUFFIXES)]
            vocab.append(w[:-1] + "ies" if w.endswith("y") else w + suf)
    head = KEYWORDS + IRREGULAR
    return np.array(vocab[:40] + head + vocab[40:], dtype=object)


def _noisy(rng: np.random.Generator, toks: np.ndarray) -> np.ndarray:
    """Decorate plain tokens with social-media noise, vectorized."""
    n = len(toks)
    u = rng.random(n)
    out = toks.copy()
    caps = u < 0.08
    out[caps] = [t.capitalize() for t in out[caps]]
    upper = (u >= 0.08) & (u < 0.10)
    out[upper] = [t.upper() for t in out[upper]]
    v = rng.random(n)
    punct = v < 0.10
    out[punct] = out[punct] + rng.choice(PUNCT, size=int(punct.sum())).astype(object)
    url = (v >= 0.10) & (v < 0.12)
    out[url] = ["https://t.co/" + t[:6] + str(i) for i, t in zip(rng.integers(0, 10**6, url.sum()), toks[url])]
    mention = (v >= 0.12) & (v < 0.15)
    out[mention] = "@" + toks[mention]
    tag = (v >= 0.15) & (v < 0.17)
    out[tag] = "#" + toks[tag]
    digit = (v >= 0.17) & (v < 0.20)
    out[digit] = rng.integers(0, 3000, size=int(digit.sum())).astype(str).astype(object)
    return out


def documents(rng: np.random.Generator, n: int) -> dict:
    vocab = _vocabulary(rng, max(2000, n // 2))
    stop = np.array(STOPWORDS, dtype=object)
    lengths = rng.integers(8, 33, size=n)
    total = int(lengths.sum())
    words = vocab[_zipf_ranks(rng, len(vocab), total)]
    is_stop = rng.random(total) < 0.35
    words[is_stop] = stop[_zipf_ranks(rng, len(stop), int(is_stop.sum()), s=0.8)]
    toks = _noisy(rng, words)
    bounds = np.concatenate([[0], np.cumsum(lengths)])
    texts = [" ".join(toks[bounds[i] : bounds[i + 1]]) for i in range(n)]
    # Near-duplicates (10 %): an earlier document with one or two word
    # edits; exact duplicates (2 %): an earlier document copied verbatim.
    kind = rng.random(n)
    for i in np.nonzero(kind < 0.12)[0]:
        if i == 0:
            continue
        src = int(rng.integers(0, i))
        if kind[i] < 0.02:
            texts[i] = texts[src]
            continue
        t = texts[src].split(" ")
        for _ in range(int(rng.integers(1, 3))):
            j = int(rng.integers(0, len(t)))
            t[j] = str(vocab[int(rng.integers(0, len(vocab)))])
        texts[i] = " ".join(t)
    return {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, size=n, p=LANG_P),
        "source": np.char.add("src", (np.arange(n) % 20).astype(str)),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def events(rng: np.random.Generator, n: int, n_users: int = 20000) -> dict:
    ts = EPOCH_2024_US + np.sort(rng.integers(0, 30 * DAY_US, size=n))
    k = rng.integers(0, 100, size=n)
    return {
        "event_id": np.arange(n, dtype=np.int64),
        "ts": ts.astype("datetime64[us]"),
        "user_id": _zipf_ranks(rng, n_users, n, s=1.1).astype(np.int64),
        "event_type": rng.choice(EVENT_TYPES, size=n, p=EVENT_P),
        "value": np.round(rng.lognormal(3.0, 1.0, size=n), 2),
        "props": [f'{{"k": {v}}}' for v in k],
    }


REGION = {"r_regionkey": np.arange(5, dtype=np.int32),
          "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}


def star(rng: np.random.Generator, sf: float) -> dict[str, dict]:
    n_cust, n_part, n_supp = int(150_000 * sf), int(200_000 * sf), int(10_000 * sf)
    n_orders = int(1_500_000 * sf)
    region = REGION
    nation = {"n_nationkey": np.arange(25, dtype=np.int32),
              "n_name": [f"NATION{i:02d}" for i in range(25)],
              "n_regionkey": (np.arange(25) % 5).astype(np.int32)}
    customer = {
        "c_custkey": np.arange(1, n_cust + 1, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(1, n_cust + 1)],
        "c_nationkey": rng.integers(0, 25, size=n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, size=n_cust), 2),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], size=n_cust),
    }
    supplier = {
        "s_suppkey": np.arange(1, n_supp + 1, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(1, n_supp + 1)],
        "s_nationkey": rng.integers(0, 25, size=n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, size=n_supp), 2),
    }
    retail = np.round(900 + (np.arange(1, n_part + 1) % 20001) / 10.0, 2)
    part = {
        "p_partkey": np.arange(1, n_part + 1, dtype=np.int64),
        "p_name": [f"part {i}" for i in range(1, n_part + 1)],
        "p_brand": np.char.add("Brand#", rng.integers(11, 56, size=n_part).astype(str)),
        "p_type": rng.choice(["STANDARD BRASS", "SMALL COPPER", "LARGE STEEL", "ECONOMY TIN", "PROMO NICKEL"], size=n_part),
        "p_size": rng.integers(1, 51, size=n_part).astype(np.int32),
        "p_retailprice": retail,
    }
    okey = np.arange(1, n_orders + 1, dtype=np.int64) * 4 - 3  # sparse keys, as in TPC-H
    odate = EPOCH_1992_US + rng.integers(0, 2405, size=n_orders) * DAY_US
    n_lines = rng.integers(1, 8, size=n_orders)
    li_order = np.repeat(np.arange(n_orders), n_lines)
    n_li = len(li_order)
    starts = np.cumsum(n_lines) - n_lines
    linenumber = (np.arange(n_li) - np.repeat(starts, n_lines) + 1).astype(np.int32)
    partkey = _zipf_ranks(rng, n_part, n_li, s=0.6).astype(np.int64) + 1
    qty = rng.integers(1, 51, size=n_li).astype(np.float64)
    ext = np.round(qty * retail[partkey - 1], 2)
    disc = rng.integers(0, 11, size=n_li) / 100.0
    tax = rng.integers(0, 9, size=n_li) / 100.0
    shipdate = odate[li_order] + rng.integers(1, 122, size=n_li) * DAY_US
    shipped = shipdate <= EPOCH_1992_US + 1260 * DAY_US
    returnflag = np.where(shipped, rng.choice(["R", "A"], size=n_li), "N")
    total = np.round(np.bincount(li_order, weights=ext * (1 + tax) * (1 - disc), minlength=n_orders), 2)
    all_f = np.bincount(li_order, weights=~shipped, minlength=n_orders) == 0
    all_o = np.bincount(li_order, weights=shipped, minlength=n_orders) == 0
    lineitem = {
        "l_orderkey": okey[li_order],
        "l_partkey": partkey,
        "l_suppkey": (partkey % n_supp + 1).astype(np.int64),
        "l_linenumber": linenumber,
        "l_quantity": qty,
        "l_extendedprice": ext,
        "l_discount": disc,
        "l_tax": tax,
        "l_returnflag": returnflag,
        "l_linestatus": np.where(shipped, "F", "O"),
        "l_shipdate": shipdate.astype("datetime64[us]"),
    }
    orders = {
        "o_orderkey": okey,
        "o_custkey": _zipf_ranks(rng, n_cust, n_orders, s=0.8).astype(np.int64) + 1,
        "o_orderstatus": np.where(all_f, "F", np.where(all_o, "O", "P")),
        "o_totalprice": total,
        "o_orderdate": odate.astype("datetime64[us]"),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], size=n_orders),
    }
    return {"region": region, "nation": nation, "customer": customer, "supplier": supplier,
            "part": part, "orders": orders, "lineitem": lineitem}


def embeddings(rng: np.random.Generator, n: int, dim: int = 64, clusters: int = 20) -> dict:
    centres = rng.normal(size=(clusters, dim))
    label = rng.integers(0, clusters, size=n)
    vec = (centres[label] + 0.35 * rng.normal(size=(n, dim))).astype(np.float32)
    return {
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": list(vec),
        "label": (label % 10).astype(np.int32),
    }


def generate(out_dir: str, seed: int, sizes: dict[str, int | float]) -> dict[str, int]:
    """Write the tables named in ``sizes`` to ``out_dir``; return row counts.

    ``sizes`` keys: ``documents`` (rows), ``events`` (rows), ``star``
    (scale factor), ``embeddings`` (rows), ``doc_files`` (part files).
    The 5-row ``region`` table is always written: set-up loads it.
    Each table family draws from its own child stream of ``seed``, so a
    table's contents do not depend on which other tables are generated.
    """
    os.makedirs(out_dir, exist_ok=True)
    streams = dict(zip(("documents", "events", "star", "embeddings"),
                       np.random.SeedSequence(seed).spawn(4)))
    rows: dict[str, int] = {}
    if "documents" in sizes:
        cols = documents(np.random.default_rng(streams["documents"]), int(sizes["documents"]))
        rows["documents"] = _write(out_dir, "documents", cols, int(sizes.get("doc_files", 1)))
    if "events" in sizes:
        cols = events(np.random.default_rng(streams["events"]), int(sizes["events"]))
        rows["events"] = _write(out_dir, "events", cols)
    if "star" in sizes:
        for name, cols in star(np.random.default_rng(streams["star"]), float(sizes["star"])).items():
            rows[name] = _write(out_dir, name, cols)
    if "embeddings" in sizes:
        cols = embeddings(np.random.default_rng(streams["embeddings"]), int(sizes["embeddings"]))
        rows["embeddings"] = _write(out_dir, "embeddings", cols)
    if "region" not in rows:
        rows["region"] = _write(out_dir, "region", REGION)
    return rows
