"""Seeded input generators for the graft benchmark.

Every input a run feeds the program is written here, before the JVM
starts, from numpy generators derived from the run's seed. The program
only ever sees the files; the JVM harness reads `manifest.json` for
the generator-side counts (events per drop, lookup keys, payload
bytes) that throughput and the correctness references are based on.
"""
import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

T0_MS = 1_700_000_000_000  # first event time; each batch adds BATCH_SPAN_MS
BATCH_SPAN_MS = 10_000_000
FILES_PER_DROP = 2


def _rng(seed, stream):
    return np.random.default_rng([seed, stream])


def _esc(s):
    return s.replace('"', '\\"')


def _recent_skewed(rng, n, size):
    """Ranks in [0, n) with p(r) ~ 1/(r+1): rank 0 is the hottest."""
    return np.minimum(np.floor(np.exp(rng.random(size) * np.log(n + 1))).astype(np.int64) - 1, n - 1)


def _write_drop(dirpath, idx, lines, mtime):
    """One drop = FILES_PER_DROP files, all stamped with the drop's mtime
    so the file source's mtime order keeps every drop in one batch."""
    os.makedirs(dirpath, exist_ok=True)
    for f in range(FILES_PER_DROP):
        p = os.path.join(dirpath, f"drop{idx:04d}-{f}.json")
        with open(p, "w") as fh:
            fh.write("\n".join(lines[f::FILES_PER_DROP]))
            fh.write("\n")
        os.utime(p, (mtime, mtime))


# -- cdc_stream_cow: Debezium envelopes for three tables of one db ---------

COW_DB = "shop"
COW_FOREIGN_DB = "legacy"
COW_TABLES = ["orders", "items", "users"]
COW_TABLE_WEIGHTS = [0.45, 0.35, 0.20]
STATUSES = ["new", "paid", "shipped", "returned", "closed"]
REGIONS = ["emea", "amer", "apac", "latam"]


def _cow_row(tbl, key, rng_vals, evolved, ts):
    a, b, c = rng_vals
    if tbl == "orders":
        return (f'{{"id":{key},"customer":{int(b * 50_000)},"amount":{c * 1000:.2f},'
                f'"status":"{STATUSES[int(a * 5)]}","updated_at":"{ts}"}}')
    if tbl == "items":
        extra = f',"discount":{a * 0.5:.3f}' if evolved else ""
        return (f'{{"id":{key},"sku":"sku-{int(b * 9999):04d}","qty":{int(c * 100)},'
                f'"price":{a * 500 + 1:.2f}{extra}}}')
    return (f'{{"id":{key},"name":"user-{key}","score":{a * 100:.4f},'
            f'"region":"{REGIONS[int(b * 4)]}"}}')


def _debezium(op, payload, db, tbl, ts):
    src = _esc(f'{{"db":"{db}","table":"{tbl}"}}')
    img = f'"{_esc(payload)}"'
    before, after = (img, "null") if op == "d" else ("null", img)
    return (f'{{"before":{before},"after":{after},"source":"{src}",'
            f'"op":"{op}","ts_ms":{ts},"transaction":null}}')


def gen_cdc(out, seed, base_events, drop_events, warm_drops, timed_drops):
    """Base snapshot (op=r, `base_events`), then `warm_drops` untimed and
    `timed_drops` timed drops of `drop_events` each: Zipf-hot keys, ~10%
    new-key inserts, ~15% deletes, ~5% foreign-db events, `ts_ms`
    shuffled inside each batch, and `items` gaining a column halfway
    through the timed drops."""
    rng = _rng(seed, 1)
    n_keys = {t: 0 for t in COW_TABLES}
    evolve_at = warm_drops + 1 + timed_drops // 2
    drops = []

    def batch(bi, n, base):
        tbl_idx = rng.choice(3, size=n, p=COW_TABLE_WEIGHTS)
        foreign = rng.random(n) < 0.05
        kind = rng.random(n)  # < .10 insert, < .25 delete, else update
        vals = rng.random((n, 3))
        ts = T0_MS + bi * BATCH_SPAN_MS + rng.permutation(n)
        stamps = np.char.replace(np.datetime_as_string(
            np.datetime64(1_600_000_000, "s") + (vals[:, 0] * 100_000_000).astype(np.int64), unit="s"), "T", " ")
        lines, per_table, payload_bytes = [], {t: 0 for t in COW_TABLES}, {t: 0 for t in COW_TABLES}
        skew = {t: None for t in COW_TABLES}
        for t in COW_TABLES:
            if n_keys[t]:
                skew[t] = iter(_recent_skewed(rng, n_keys[t], n))
        perm = {t: rng.integers(1, 1 << 30) * 2 + 1 for t in COW_TABLES}
        for i in range(n):
            t = COW_TABLES[tbl_idx[i]]
            if base:
                op, key = "r", n_keys[t]
                n_keys[t] += 1
            elif kind[i] < 0.10 or not n_keys[t]:
                op, key = "c", n_keys[t]
                n_keys[t] += 1
            else:
                op = "d" if kind[i] < 0.25 else "u"
                key = (int(next(skew[t])) * perm[t]) % n_keys[t]
            payload = _cow_row(t, key, vals[i], bi >= evolve_at, stamps[i])
            db = COW_FOREIGN_DB if foreign[i] else COW_DB
            lines.append(_debezium(op, payload, db, t, int(ts[i])))
            if not foreign[i]:
                per_table[t] += 1
                payload_bytes[t] += len(payload)
        return lines, per_table, payload_bytes

    total = 1 + warm_drops + timed_drops
    for bi in range(total):
        stage = "setup" if bi <= warm_drops else "timed"
        lines, per_table, pbytes = batch(bi, base_events if bi == 0 else drop_events, bi == 0)
        _write_drop(os.path.join(out, stage), bi, lines, 1_600_000_000 + bi)
        drops.append({"index": bi, "stage": stage, "events": len(lines),
                      "per_table": per_table, "payload_bytes": pbytes})
    return {"evolve_at": evolve_at, "files_per_drop": FILES_PER_DROP, "drops": drops}


# -- lake_mor_mixed: DMS envelopes for one composed-layout MOR table -------

MOR_DB, MOR_TABLE = "lake", "activity"
MOR_BASE_DAYS = 5
KINDS = ["view", "click", "cart", "buy"]


DAYS = [str(np.datetime64("2024-03-01") + i) for i in range(366)]


def _dms(op, payload, ts_ms, iso):
    meta = (f'{{"timestamp":"{iso}","record-type":"data","operation":"{op}",'
            f'"partition-key-type":"primary-key","schema-name":"{MOR_DB}",'
            f'"table-name":"{MOR_TABLE}","transaction-id":{ts_ms % 1000003}}}')
    return f'{{"data":"{_esc(payload)}","metadata":"{_esc(meta)}"}}'


def gen_mor(out, seed, base_events, drop_events, warm_drops, timed_drops, points):
    """Base load, then write drops whose updates favour recently created
    keys (so recent `day` partitions take most changes), ~10% inserts
    into the newest day and ~15% deletes; plus, per step, `points`
    lookup keys, hot (touched by that step's drop) and cold (uniform
    over the base keys) in turn."""
    rng = _rng(seed, 2)
    days = []  # day index of each key, by key id
    drops = []
    total = 1 + warm_drops + timed_drops
    for bi in range(total):
        base = bi == 0
        n = base_events if base else drop_events
        kind = rng.random(n)
        vals = rng.random((n, 3))
        ts = T0_MS + bi * BATCH_SPAN_MS + rng.permutation(n)
        isos = np.datetime_as_string(ts.astype("datetime64[ms]"), unit="ms")
        n_keys = len(days)
        recent = _recent_skewed(rng, max(n_keys, 1), n)
        lines, touched, payload_bytes = [], [], 0
        for i in range(n):
            if base:
                op, key = "load", n_keys + i
                days.append(i * MOR_BASE_DAYS // n)
            elif kind[i] < 0.10:
                op, key = "insert", len(days)
                days.append(MOR_BASE_DAYS + bi // 2)
            else:
                op = "delete" if kind[i] < 0.25 else "update"
                key = n_keys - 1 - int(recent[i])
            a, b, c = vals[i]
            payload = (f'{{"id":{key},"day":"{DAYS[days[key]]}","user_id":{int(a * 20_000)},'
                       f'"amount":{b * 250:.2f},"kind":"{KINDS[int(c * 4)]}"}}')
            lines.append(_dms(op, payload, int(ts[i]), isos[i] + "000Z"))
            payload_bytes += len(payload)
            touched.append(key)
        stage = "setup" if bi <= warm_drops else "timed"
        _write_drop(os.path.join(out, stage), bi, lines, 1_600_000_000 + bi)
        n_hot = (points + bi % 2) // 2
        hot = rng.choice(touched, size=n_hot)
        cold = rng.integers(0, max(1, base_events), size=points - n_hot)
        drops.append({"index": bi, "stage": stage, "events": n, "payload_bytes": payload_bytes,
                      "points": [int(k) for k in np.concatenate([hot, cold])]})
    return {"files_per_drop": FILES_PER_DROP, "drops": drops}


# -- dedup_stream: parquet doc drops, 1/6 in-drop and 1/6 cross-drop dups ---

CORPUS_CHARS = 1 << 20


def gen_dedup(out, seed, base_docs, drop_docs, warm_drops, timed_drops):
    """Doc drops in the StreamBench `dedup` shape: in every drop, doc
    6k+5 repeats the text of doc 6k+4 (a duplicate within the drop) and,
    past the first drop, doc 6k+3 repeats the text of a uniformly chosen
    doc of an earlier drop (a duplicate of the index). Every other doc
    has a fresh text. Doc ids are unique and rows are shuffled within a
    drop. The manifest carries the expected accepted set of every drop
    (the lowest id of each text new to the index): its size, id sum, id
    square sum and the sum of the leading 48 bits of each accepted
    text's md5. Also writes the loop tables (`gen_loops`)."""
    rng = _rng(seed, 3)
    # a text is its key in hex plus a 60-300 character slice of one
    # random lower-case corpus
    corpus = "".join(np.array(list("abcdefghijklmnopqrstuvwxyz      "))[
        rng.integers(0, 32, size=CORPUS_CHARS)])
    texts = []  # text of each key, by key id

    def new_texts(n):
        offs = rng.integers(0, CORPUS_CHARS - 300, size=n)
        lens = rng.integers(60, 300, size=n)
        k0 = len(texts)
        texts.extend(f"doc {k0 + i:x} {corpus[o:o + m]}" for i, (o, m) in enumerate(zip(offs, lens)))

    drops, next_id = [], 0
    total = 1 + warm_drops + timed_drops
    for bi in range(total):
        n = base_docs if bi == 0 else drop_docs
        ids = np.arange(next_id, next_id + n, dtype=np.int64)
        next_id += n
        pos = np.arange(n)
        fresh = ~((pos % 6 == 5) | ((pos % 6 == 3) & (bi > 0)))
        keys = np.zeros(n, dtype=np.int64)
        keys[fresh] = len(texts) + np.arange(fresh.sum())
        cross = (pos % 6 == 3) & (bi > 0)
        keys[cross] = rng.integers(0, len(texts), size=cross.sum())
        new_texts(int(fresh.sum()))
        in_drop = pos % 6 == 5
        keys[in_drop] = keys[pos[in_drop] - 1]
        doc_text = [texts[k] for k in keys]
        # expected accepted: the lowest id of each text not in an earlier drop
        acc = ids[fresh]
        acc_md5 = sum(int(hashlib.md5(doc_text[i].encode()).hexdigest()[:12], 16) for i in np.flatnonzero(fresh))
        order = rng.permutation(n)
        stage = "setup" if bi <= warm_drops else "timed"
        d = os.path.join(out, stage)
        os.makedirs(d, exist_ok=True)
        for f in range(FILES_PER_DROP):
            rows = order[f::FILES_PER_DROP]
            p = os.path.join(d, f"drop{bi:04d}-{f}.parquet")
            pq.write_table(pa.table({"doc_id": ids[rows], "text": [doc_text[i] for i in rows]}), p)
            os.utime(p, (1_600_000_000 + bi, 1_600_000_000 + bi))
        drops.append({"index": bi, "stage": stage, "events": n, "accepted": int(acc.size),
                      "accepted_id_sum": int(acc.sum()), "accepted_id_sq_sum": str(int((acc.astype(object) ** 2).sum())),
                      "accepted_md5_sum": str(acc_md5)})
    gen_loops(out, seed)
    return {"files_per_drop": FILES_PER_DROP, "drops": drops}


# -- loop tables: the graph and near-dup cluster queries' inputs ----------

LOOP_WORDS = ("the a fast slow big small key value row column table part line order customer "
              "data query filter join hash sort merge scan window group agg batch stream spark "
              "vector dup").split()
LANGS = ["en", "en", "fr", "es", "zh", "de"]


def gen_loops(out, seed, orders=1_500, lineitems=6_000, customers=150, suppliers=10, docs=500):
    """Small seeded `orders`, `lineitem` and `documents` tables, in the
    columns the graph (customer-supplier trade edges) and near-dup
    cluster queries read, in `out`/loops."""
    rng = _rng(seed, 4)
    d = os.path.join(out, "loops")
    os.makedirs(d, exist_ok=True)
    pq.write_table(pa.table({
        "o_orderkey": np.arange(orders, dtype=np.int64),
        "o_custkey": rng.integers(0, customers, size=orders)}), os.path.join(d, "orders.parquet"))
    pq.write_table(pa.table({
        "l_orderkey": rng.integers(0, orders, size=lineitems),
        "l_suppkey": rng.integers(0, suppliers, size=lineitems)}), os.path.join(d, "lineitem.parquet"))
    words = np.array(LOOP_WORDS)
    texts = [" ".join(words[rng.integers(0, len(words), size=rng.integers(8, 90))]) for _ in range(docs)]
    pq.write_table(pa.table({
        "doc_id": np.arange(docs, dtype=np.int64), "text": texts,
        "lang": [LANGS[i] for i in rng.integers(0, len(LANGS), size=docs)],
        "source": [f"src{i % 20}" for i in range(docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)}), os.path.join(d, "documents.parquet"))
    return d


def write_manifest(out, manifest):
    with open(os.path.join(out, "manifest.json"), "w") as fh:
        json.dump(manifest, fh)
