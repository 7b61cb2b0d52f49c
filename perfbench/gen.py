"""Seeded input generators owned by the benchmark.

Everything here is a pure function of (seed, sizes): the same seed writes
byte-identical inputs. Nothing is taken from the library under test, so a
change to the program cannot change what it is measured on.

  star_tables  the ten parquet tables the registry queries read (a TPC-H-like
               star schema plus `events`, `documents` and `embeddings`), with
               the column names, types and value domains of the repository's
               test fixtures.
  corpus       `documents` + `embeddings` for the LLM-corpus workload: a
               Zipf vocabulary per language, a stated language mix and stated
               exact- and near-duplicate shares.
  lakehouse_csvs
               transactions / customers / products CSVs for the reference
               ETL flow, plus the values the curated tables must hold.
"""
import datetime as dt

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

DAY_US = 86_400_000_000


def _rng(seed, stream):
    return np.random.default_rng([seed, stream])


def _epoch_us(y, m, d):
    return int(dt.datetime(y, m, d, tzinfo=dt.timezone.utc).timestamp()) * 1_000_000


def _ts(values_us):
    return pa.array(values_us, type=pa.int64()).cast(pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0, 2)


def _pick(rng, choices, n):
    return pa.array(np.asarray(choices, dtype=object)[rng.choice(len(choices), n)])


def _write(out_dir, name, table):
    pq.write_table(table, f"{out_dir}/{name}.parquet")


# ------------------------------------------------------------------- corpus
LANG_MIX = {"en": 0.40, "de": 0.15, "es": 0.15, "fr": 0.15, "zh": 0.15}
# Function words per language. They are the marker sets the language-ID
# operators score, and they make up about a third of running text, as
# function words do in natural text.
FUNCTION_WORDS = {
    "en": "the a and of to in is it for on".split(),
    "de": "der die das und ist ein eine nicht mit zu".split(),
    "es": "el la de que y los las un una en".split(),
    "fr": "le la les et des une est dans que pour".split(),
    "zh": "de5 shi4 bu4 le5 wo3 zai4 you3 ta1 men5 zhe4".split(),
}
SYLLABLES = {
    "en": "th er an re on at en nd st es or te ing al ed ar ou it is le".split(),
    "de": "sch ei en er ch ge st un de ung ie be ver au in ten zu ach".split(),
    "es": "ar os es ci on ad ra do ta co la re ent as mo pa lo ri".split(),
    "fr": "ou ai en on re es le ment eur que tion ans eau oi ch ite".split(),
    "zh": "zh ang ing xi ao shi qu yu wan hu li ji guo ren da xue".split(),
}
# Shared technical terms, Zipf-weighted with `spark` first: every language
# borrows them, and the curation pipeline's quality seed rule keys on
# `spark`. Half the documents are on the technical topic.
TECH_WORDS = ("spark data table query join shuffle window stream batch "
              "parquet schema column index vector model token filter "
              "cluster partition cache").split()
TECH_P = 1.0 / np.arange(1, len(TECH_WORDS) + 1)
TECH_P /= TECH_P.sum()
TECH_TOPIC_SHARE = 0.5
TECH_SHARE = {True: 0.12, False: 0.02}
VOCAB_PER_LANG = 6000
FUNCTION_SHARE = 0.33
EXACT_DUP_SHARE = 0.05
NEAR_DUP_SHARE = 0.10
NEAR_DUP_EDIT = 0.02      # share of a near-duplicate's tokens replaced
N_SOURCES = 20
EMB_DIM = 64
EMB_CLUSTERS = 10


def _counts(n, shares):
    """Split n into integer counts proportional to `shares`."""
    shares = list(shares)
    c = [int(n * s) for s in shares]
    c[-1] = n - sum(c[:-1])
    return c


def _vocab(rng, lang):
    syl = np.asarray(SYLLABLES[lang], dtype=object)
    words, seen = [], set(FUNCTION_WORDS[lang]) | set(TECH_WORDS)
    while len(words) < VOCAB_PER_LANG:
        k = int(rng.integers(2, 5))
        w = "".join(syl[rng.integers(0, len(syl), k)])
        if w not in seen:
            seen.add(w)
            words.append(w)
    return np.asarray(words, dtype=object)


def _doc_tokens(rng, vocab, fwords, n, tech_share):
    kind = rng.random(n)
    ranks = np.minimum(rng.zipf(1.15, n) - 1, len(vocab) - 1)
    toks = vocab[ranks]
    fw = kind < FUNCTION_SHARE
    toks[fw] = np.asarray(fwords, dtype=object)[rng.integers(0, len(fwords), fw.sum())]
    tech = (kind >= FUNCTION_SHARE) & (kind < FUNCTION_SHARE + tech_share)
    toks[tech] = np.asarray(TECH_WORDS, dtype=object)[rng.choice(len(TECH_WORDS), tech.sum(), p=TECH_P)]
    return toks


def corpus(out_dir, seed, n_docs, n_emb):
    """Write documents.parquet and embeddings.parquet; return their stated
    properties (shares are of `n_docs`)."""
    rng = _rng(seed, 1)
    langs = list(LANG_MIX)
    vocabs = {l: _vocab(rng, l) for l in langs}
    # Exact shares: a seeded permutation of fixed counts, so every seed has
    # the same mix and duplicate volume.
    lang_of = rng.permutation(np.repeat(np.arange(len(langs)), _counts(n_docs, LANG_MIX.values())))
    role = rng.permutation(np.repeat(np.arange(3), _counts(
        n_docs - 1, [EXACT_DUP_SHARE, NEAR_DUP_SHARE, 1 - EXACT_DUP_SHARE - NEAR_DUP_SHARE])))
    role = np.concatenate([[2], role])
    topic = rng.permutation(np.repeat([1, 0], _counts(n_docs, [TECH_TOPIC_SHARE, 1 - TECH_TOPIC_SHARE])))
    lengths = np.clip(rng.lognormal(np.log(110), 0.6, n_docs).astype(int), 5, 900)
    texts, doc_lang = [], []
    n_exact = n_near = 0
    for i in range(n_docs):
        if role[i] == 0:
            j = int(rng.integers(0, i))
            texts.append(texts[j])
            doc_lang.append(doc_lang[j])
            n_exact += 1
        elif role[i] == 1:
            j = int(rng.integers(0, i))
            toks = texts[j].split(" ")
            lang = doc_lang[j]
            n_edit = max(1, int(round(len(toks) * NEAR_DUP_EDIT)))
            at = rng.integers(0, len(toks), n_edit)
            repl = _doc_tokens(rng, vocabs[lang], FUNCTION_WORDS[lang], n_edit, TECH_SHARE[False])
            for a, r in zip(at, repl):
                toks[a] = r
            texts.append(" ".join(toks))
            doc_lang.append(lang)
            n_near += 1
        else:
            lang = langs[lang_of[i]]
            texts.append(" ".join(_doc_tokens(rng, vocabs[lang], FUNCTION_WORDS[lang], lengths[i],
                                              TECH_SHARE[bool(topic[i])])))
            doc_lang.append(lang)
    sources = np.asarray([f"src{k}" for k in range(N_SOURCES)], dtype=object)
    _write(out_dir, "documents", pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(doc_lang, pa.string()),
        "source": pa.array(sources[rng.integers(0, N_SOURCES, n_docs)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }))
    labels = rng.integers(0, EMB_CLUSTERS, n_emb)
    centres = rng.normal(0, 1, (EMB_CLUSTERS, EMB_DIM))
    vecs = (centres[labels] + rng.normal(0, 0.8, (n_emb, EMB_DIM))).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True).astype(np.float32)
    _write(out_dir, "embeddings", pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32), pa.int32()),
    }))
    n_tokens = sum(t.count(" ") + 1 for t in texts)
    return {
        "docs": n_docs, "embeddings": n_emb, "tokens": n_tokens,
        "vocab_per_lang": VOCAB_PER_LANG, "zipf_s": 1.15,
        "lang_mix": LANG_MIX, "tech_topic_share": TECH_TOPIC_SHARE,
        "exact_dup_share": round(n_exact / n_docs, 4),
        "near_dup_share": round(n_near / n_docs, 4),
        "near_dup_token_edit": NEAR_DUP_EDIT,
        "bytes": sum(len(t) for t in texts),
    }


# -------------------------------------------------------------- star schema
def star_tables(out_dir, seed, n_orders, n_docs=500, n_emb=500):
    """Write the ten registry tables; lineitem has 4 rows per order."""
    rng = _rng(seed, 2)
    n_cust, n_supp, n_part = n_orders // 10, max(10, n_orders // 150), n_orders * 2 // 15
    n_line, n_events = n_orders * 4, n_orders * 2 // 3
    _write(out_dir, "region", pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
    }))
    _write(out_dir, "nation", pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
    }))
    _write(out_dir, "customer", pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": _pick(rng, ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust),
    }))
    _write(out_dir, "supplier", pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
    }))
    adj = ["blue", "cold", "hot", "red", "small", "new", "old", "big"]
    noun = ["ring", "plate", "gear", "rod", "bolt", "anvil", "widget", "valve"]
    names = np.asarray([f"{a} {b}" for a in adj for b in noun], dtype=object)
    _write(out_dir, "part", pa.table({
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": pa.array(names[rng.integers(0, len(names), n_part)]),
        "p_brand": pa.array(np.asarray([f"Brand#{k}" for k in range(1, 26)], dtype=object)[rng.integers(0, 25, n_part)]),
        "p_type": _pick(rng, ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2)),
    }))
    lo, hi = _epoch_us(1995, 1, 1), _epoch_us(2001, 8, 1)
    _write(out_dir, "orders", pa.table({
        "o_orderkey": pa.array(np.arange(n_orders, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_orders)),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_orders),
        "o_totalprice": pa.array(_money(rng, 1000, 500000, n_orders)),
        "o_orderdate": _ts(lo + rng.integers(0, (hi - lo) // DAY_US + 1, n_orders) * DAY_US),
        "o_orderpriority": _pick(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_orders),
    }))
    lo, hi = _epoch_us(1995, 1, 2), _epoch_us(2001, 11, 4)
    _write(out_dir, "lineitem", pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_orders, n_line)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900, 105000, n_line)),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
        "l_linestatus": _pick(rng, ["F", "O"], n_line),
        "l_shipdate": _ts(lo + rng.integers(0, (hi - lo) // DAY_US + 1, n_line) * DAY_US),
    }))
    t0 = _epoch_us(2024, 1, 1)
    _write(out_dir, "events", pa.table({
        "event_id": pa.array(np.arange(n_events, dtype=np.int64)),
        "ts": _ts(np.sort(t0 + rng.integers(0, 30 * DAY_US, n_events))),
        "user_id": pa.array(rng.integers(0, n_cust, n_events)),
        "event_type": _pick(rng, ["click", "error", "purchase", "signup", "view"], n_events),
        "value": pa.array(_money(rng, 0, 100, n_events)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]),
    }))
    props = corpus(out_dir, seed, n_docs, n_emb)
    return {"orders": n_orders, "lineitem": n_line, "customer": n_cust,
            "part": n_part, "supplier": n_supp, "events": n_events,
            "corpus": props}


# ---------------------------------------------------------------- lakehouse
BAD_TS_EVERY = 1000
TXN_DAYS = 30
NULL_SEGMENT_SHARE = 0.05


def lakehouse_csvs(out_dir, seed, n_txn):
    """Write transactions/customers/products CSVs and return the values the
    curated star schema must hold."""
    rng = _rng(seed, 3)
    n_cust, n_prod = max(100, n_txn // 40), 900
    cust_ids = np.arange(1000, 1000 + n_cust)
    prod_ids = np.asarray([f"PROD{100 + k}" for k in range(n_prod)], dtype=object)
    cats = ["electronics", "GROCERY", "Home", "toys", "sPORTS", "books"]
    prod_cat = rng.integers(0, len(cats), n_prod)
    pacsv.write_csv(pa.table({
        "product_id": pa.array(prod_ids),
        "product_name": pa.array([f"product {k}" for k in range(n_prod)]),
        "product_category": pa.array(np.asarray(cats, dtype=object)[prod_cat]),
        "product_brand": pa.array([f"brand{k % 37}" for k in range(n_prod)]),
        "product_weight_kg": pa.array(np.round(rng.uniform(0.1, 20, n_prod), 3)),
    }), f"{out_dir}/products.csv")
    seg = np.asarray(["Regular", "Premium", "VIP"], dtype=object)[rng.integers(0, 3, n_cust)]
    null_seg = rng.random(n_cust) < NULL_SEGMENT_SHARE
    reg = _epoch_us(2020, 1, 1) // 1_000_000 + rng.integers(0, 1400, n_cust) * 86400
    pacsv.write_csv(pa.table({
        "customer_id": pa.array(cust_ids),
        "customer_name": pa.array([f"customer {c}" for c in cust_ids]),
        "customer_email": pa.array([f"c{c}@example.com" for c in cust_ids]),
        "customer_city": _pick(rng, ["Lagos", "Lima", "Oslo", "Pune", "Quito", "Riga"], n_cust),
        "customer_country": _pick(rng, ["NG", "PE", "NO", "IN", "EC", "LV"], n_cust),
        "registration_date": pa.array([dt.datetime.fromtimestamp(int(s), dt.timezone.utc).strftime("%Y-%m-%d") for s in reg]),
        "customer_segment": pa.array([None if n else s for s, n in zip(seg, null_seg)], pa.string()),
    }), f"{out_dir}/customers.csv")
    anchor = _epoch_us(2024, 6, 1) // 1_000_000
    secs = anchor - rng.integers(0, TXN_DAYS * 86400, n_txn)
    bad = rng.integers(0, BAD_TS_EVERY, n_txn) == 0
    ts_text = np.asarray([dt.datetime.fromtimestamp(int(s), dt.timezone.utc).strftime("%Y-%m-%d %H:%M:%S") for s in secs], dtype=object)
    ts_text[bad] = "2024-13-45 25:61:00"
    qty = rng.integers(1, 11, n_txn)
    prod = rng.integers(0, n_prod, n_txn)
    ids = rng.integers(0, 2**63 - 1, (n_txn, 2), dtype=np.int64)
    pacsv.write_csv(pa.table({
        "transaction_id": pa.array([f"{a:016x}-{b:016x}" for a, b in ids]),
        "customer_id": pa.array(cust_ids[rng.integers(0, n_cust, n_txn)]),
        "product_id": pa.array(prod_ids[prod]),
        "transaction_timestamp": pa.array(ts_text),
        "quantity": pa.array(qty),
        "price": pa.array(_money(rng, 5, 500, n_txn)),
        "store_location": _pick(rng, ["online", "store_A", "store_B", "mobile_app"], n_txn),
        "payment_method": _pick(rng, ["card", "cash", "wallet", "transfer"], n_txn),
    }), f"{out_dir}/transactions.csv")
    good = ~bad
    days = (secs[good] // 86400).astype(np.int64)
    udays, counts = np.unique(days, return_counts=True)
    qsum = np.bincount(np.searchsorted(udays, days), weights=qty[good]).astype(np.int64)
    date = [dt.datetime.fromtimestamp(int(d) * 86400, dt.timezone.utc).strftime("%Y-%m-%d") for d in udays]
    cat_q = np.bincount(prod_cat[prod[good]], weights=qty[good], minlength=len(cats)).astype(np.int64)
    return {
        "transactions": n_txn, "customers": n_cust, "products": n_prod,
        "fact_rows": int(good.sum()), "rows_dropped": int(bad.sum()),
        "quantity_sum": int(qty[good].sum()),
        "per_date": {d: [int(c), int(q)] for d, c, q in zip(date, counts, qsum)},
        "per_category_qty": {cats[k][:1].upper() + cats[k][1:].lower(): int(cat_q[k]) for k in range(len(cats))},
        "null_segments": int(null_seg.sum()),
    }
