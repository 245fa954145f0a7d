"""Seeded input generator for the four benchmark workloads.

Every table is written as a directory of parquet part files named
`<table>.parquet/part-<i>.parquet`, the layout `Tables.load` reads. The
program under test only ever sees these files. The same (workload, seed,
size) always yields byte-identical inputs.
"""
import datetime
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Input rows per workload. `full` is what the benchmark measures; `smoke`
# is the tiny size the benchmark's own self-test uses.
SIZES = {
    "full": {"py_json": 100_000, "py_arrow": 40_000,
             "jvm_etl": 300_000, "curation": 10_000},
    "smoke": {"py_json": 4_000, "py_arrow": 4_000,
              "jvm_etl": 10_000, "curation": 2_000},
}
# One part file per task thread, so the scan plans one partition per core.
# py_arrow's 2-6 KB payloads put ~40 MB in each of its partitions, over
# the Arrow gate's 32 MB trigger.
PARTS = 4

_WORKLOAD_SALT = {"py_json": 1, "py_arrow": 2, "jvm_etl": 3, "curation": 4}


def _rng(workload, seed):
    return np.random.Generator(np.random.PCG64([_WORKLOAD_SALT[workload], seed]))


def _write(table, out_dir, name, parts=PARTS):
    d = os.path.join(out_dir, name + ".parquet")
    os.makedirs(d, exist_ok=True)
    n = table.num_rows
    step = -(-n // parts)
    for i in range(parts):
        pq.write_table(table.slice(i * step, step), os.path.join(d, "part-%d.parquet" % i),
                       row_group_size=1 << 20)


def _words(rng, n_vocab, length):
    """Pseudo-words of 3-9 letters, distinct, deterministic per rng."""
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    seen, out = set(), []
    while len(out) < n_vocab:
        w = "".join(letters[rng.integers(0, 26, size=rng.integers(3, length))])
        if w not in seen:
            seen.add(w)
            out.append(w)
    return out


def _text(rng, vocab, n_words):
    return " ".join(vocab[i] for i in rng.integers(0, len(vocab), n_words))


def gen_py_json(rng, n, out):
    order_id = np.arange(n, dtype=np.int64)
    amount = np.round(rng.uniform(1.0, 500.0, n), 2)
    neg = rng.random(n) < 0.01              # -> emitError
    amount[neg] = -amount[neg]
    region_id = rng.integers(0, 52, n)      # 50, 51 miss the lookup
    vocab = _words(rng, 2000, 9)
    pool = np.array([_text(rng, vocab, k)[:100] for k in rng.integers(10, 22, 1 << 15)],
                    dtype=object)
    notes = pool[rng.integers(0, len(pool), n)]
    alert = rng.random(n) < 0.001           # -> emitAlert
    notes[alert] = ["!" + t for t in notes[alert]]
    _write(pa.table({"order_id": order_id, "amount": amount,
                     "region_id": region_id.astype(np.int64), "note": pa.array(notes, pa.string())}), out, "orders")
    _write(pa.table({"region_id": np.arange(50, dtype=np.int64),
                     "name": ["region-%02d" % i for i in range(50)]}), out, "regions", 1)
    # one record per partition: per-job worker spawn and init cost
    _write(pa.table({"order_id": np.arange(PARTS, dtype=np.int64),
                     "amount": np.full(PARTS, 10.0), "region_id": np.zeros(PARTS, np.int64),
                     "note": ["fixed cost probe"] * PARTS}), out, "fixed")


def gen_py_arrow(rng, n, out):
    sizes = rng.integers(2048, 6145, n)
    blob = rng.integers(0, 256, int(sizes.sum()), dtype=np.uint8).tobytes()
    offs = np.concatenate([[0], np.cumsum(sizes)])
    payload = [blob[offs[i]:offs[i + 1]] for i in range(n)]
    base = int(datetime.datetime(2024, 1, 1, tzinfo=datetime.timezone.utc).timestamp() * 1e6)
    ts = base + rng.integers(0, 365 * 86400 * 10**6, n)
    day = ts // (86400 * 10**6) - rng.integers(0, 3, n)
    t = pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "user_id": pa.array(rng.integers(0, 100_000, n).astype(np.int64)),
        "payload": pa.array(payload, pa.binary()),
        "ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
        "day": pa.array(day.astype(np.int32), pa.date32()),
    })
    _write(t, out, "events")
    _write(pa.table({"segment_id": np.arange(90, dtype=np.int64),   # 90-99 miss
                     "name": ["segment-%02d" % i for i in range(90)]}), out, "segments", 1)
    _write(t.slice(0, PARTS), out, "fixed")


def gen_jvm_etl(rng, n, out):
    n_part, n_supp = 20_000, 1_000
    modes = np.array(["AIR", "RAIL", "SHIP", "TRUCK", "MAIL"])
    tags = np.array(["std", "gift", "bulk", "x", "fragile", "promo"])
    vocab = _words(rng, 500, 8)
    tag_pool = np.array([";".join(tags[rng.integers(0, len(tags), k)])
                         for k in rng.integers(1, 4, 4096)], dtype=object)
    tag_str = tag_pool[rng.integers(0, len(tag_pool), n)]
    pool = np.array([_text(rng, vocab, k) for k in rng.integers(1, 6, 1 << 15)],
                    dtype=object)
    comment = pool[rng.integers(0, len(pool), n)]
    comment[rng.random(n) < 0.005] = None   # NULL verdict -> error channel
    qty = rng.integers(0, 51, n).astype(np.float64)   # 0 -> filtered
    price = np.round(rng.uniform(900.0, 100_000.0, n), 2)
    _write(pa.table({
        "l_orderkey": pa.array(np.arange(n, dtype=np.int64) // 4),
        "l_linenumber": pa.array((np.arange(n) % 4 + 1).astype(np.int32)),
        "l_partkey": pa.array(rng.integers(0, n_part, n).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp + 10, n).astype(np.int64)),  # 10 unknown
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(price),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_shipmode": pa.array(modes[rng.integers(0, len(modes), n)]),
        "l_tags": pa.array(tag_str, pa.string()),
        "l_comment": pa.array(comment, pa.string()),
    }), out, "lineitem")
    brands = np.array(["Brand#%d%d" % (a, b) for a in range(1, 6) for b in range(1, 6)])
    _write(pa.table({"p_partkey": np.arange(n_part, dtype=np.int64),
                     "p_brand": brands[rng.integers(0, len(brands), n_part)]}), out, "part", 1)
    nations = ["nation-%02d" % i for i in range(25)]
    _write(pa.table({"s_suppkey": np.arange(n_supp, dtype=np.int64),
                     "s_nation": [nations[i] for i in rng.integers(0, 25, n_supp)]}),
           out, "supplier", 1)


def gen_curation(rng, n, out):
    """Zipfian word corpus with boilerplate, near-dup clusters and exact dups.

    Words follow Zipf (s = 1) over a fixed 10k vocabulary, left as Zipf
    makes them. A 4-word boilerplate phrase (the "all rights reserved" of a web
    crawl) sits in ~12% of documents, so its two 3-grams occur in more
    documents than `ngramJaccard`'s df cap (1000) allows; near-dup pairs
    that share it lose those shingles, and the cap's effect shows in
    result_recall.
    """
    n_vocab = 10_000
    # one vocabulary for every seed: the words (and so curationPipeline's
    # per-word quality weights) are the language, only the documents vary
    vocab = _words(np.random.Generator(np.random.PCG64(0)), n_vocab, 9)
    p = 1.0 / np.arange(1, n_vocab + 1)
    p /= p.sum()
    lens = rng.integers(20, 60, n)
    ids = rng.choice(n_vocab, size=int(lens.sum()), p=p)
    offs = np.concatenate([[0], np.cumsum(lens)])
    docs = [ids[offs[i]:offs[i + 1]].copy() for i in range(n)]
    phrase = np.arange(500, 504)
    for i in np.nonzero(rng.random(n) < 0.12)[0]:
        at = int(rng.integers(0, len(docs[i]) + 1))
        docs[i] = np.concatenate([docs[i][:at], phrase, docs[i][at:]])
    # ~5% of docs are mutated copies of a cluster head (2-4 members each)
    i = 0
    order = rng.permutation(n)
    planted = int(n * 0.05)
    while i < planted:
        head = order[i]
        k = int(rng.integers(2, 5))
        for m in order[i + 1:i + k]:
            d = docs[head].copy()
            flip = rng.random(len(d)) < rng.uniform(0.02, 0.2)
            d[flip] = rng.choice(n_vocab, size=int(flip.sum()), p=p)
            docs[m] = d
        i += k
    # ~2% exact duplicates of another document
    for a, b in zip(order[planted:planted + int(n * 0.02)],
                    order[planted + int(n * 0.02):planted + int(n * 0.04)]):
        docs[a] = docs[b].copy()
    text = [" ".join(vocab[j] for j in d) for d in docs]
    zd = 1.0 / np.arange(1, 10_001) ** 1.1
    zd /= zd.sum()
    source = ["src%d" % s for s in rng.choice(10_000, size=n, p=zd)]
    langs = np.array(["en", "de", "fr", "es", "it", "nl", "pt", "sv"])
    lang = langs[np.minimum(rng.geometric(0.45, n) - 1, len(langs) - 1)]
    _write(pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(text),
        "lang": pa.array(lang),
        "source": pa.array(source),
        "n_chars": pa.array(np.array([len(t) for t in text], dtype=np.int64)),
    }), out, "documents")


GENERATORS = {"py_json": gen_py_json, "py_arrow": gen_py_arrow,
              "jvm_etl": gen_jvm_etl, "curation": gen_curation}


def generate(workload, seed, size, out_dir):
    n = SIZES[size][workload]
    GENERATORS[workload](_rng(workload, seed), n, out_dir)
    return n
