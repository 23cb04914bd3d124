"""Seeded input generators for the benchmark workloads.

Every generator takes a ``numpy.random.Generator`` and returns in-memory
tables (pyarrow) or text files plus a ``truth`` dict: the facts the output
checks compare against (planted duplicate pairs, record and malformed-line
tallies).  ``write_inputs`` writes one workload's inputs to a directory and
returns a digest over the bytes it wrote, so the same seed can be shown to
give byte-identical inputs.

The warehouse tables follow the engine's test-data schema: a TPC-H-like star
(region, nation, customer, supplier, part, orders, lineitem) plus an
``events`` stream table, a ``documents`` corpus and 64-d ``embeddings``.
Each table is one parquet file with one row group, like the test data.
"""
import datetime as _dt
import hashlib
import io
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---- warehouse -------------------------------------------------------

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.13, 0.15]


def _days(rng, n, start, end):
    """n midnight timestamps uniform over [start, end] (numpy datetime64[us])."""
    lo = np.datetime64(start, "D")
    span = int((np.datetime64(end, "D") - lo).astype(int))
    return (lo + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n, p=None):
    return np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)]


def _ts_array(values):
    return pa.array(values.astype("datetime64[us]"), type=pa.timestamp("us"))


def warehouse_tables(rng, n_customer, names):
    """The star schema scaled by customer count (orders = 10x, lineitem =
    40x, part = 4/3x, supplier = 1/15x, events = 20/3x, users = 1/10x),
    with the given customer names."""
    n_cust = n_customer
    n_orders = 10 * n_cust
    n_line = 40 * n_cust
    n_part = max(64, n_cust * 4 // 3)
    n_supp = max(10, n_cust // 15)
    n_events = n_cust * 20 // 3
    n_users = max(10, n_cust // 10)
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": names,
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust)})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99)})
    pk = np.arange(n_part, dtype=np.int64)
    t["part"] = pa.table({
        "p_partkey": pa.array(pk),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(
            rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": _pick(rng, PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 2)})
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_orders, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_orders)),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_orders),
        "o_totalprice": _money(rng, n_orders, 1000.0, 500000.0),
        "o_orderdate": _ts_array(_days(rng, n_orders, "1995-01-01", "2001-08-01")),
        "o_orderpriority": _pick(rng, PRIORITIES, n_orders)})
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_orders, n_line)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype(np.int32)),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, n_line, 900.0, 105000.0),
        "l_discount": np.round(rng.integers(0, 11, n_line) * 0.01, 2),
        "l_tax": np.round(rng.integers(0, 9, n_line) * 0.01, 2),
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
        "l_linestatus": _pick(rng, ["F", "O"], n_line),
        "l_shipdate": _ts_array(_days(rng, n_line, "1995-01-02", "2001-11-04"))})
    # events: ascending timestamps over 30 days, ids in time order
    offs = np.sort(rng.integers(0, 30 * 86400 * 10**6, n_events))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_events, dtype=np.int64)),
        "ts": _ts_array(np.datetime64("2024-01-01T00:00:00", "us") + offs),
        "user_id": pa.array(rng.integers(0, n_users, n_events)),
        "event_type": _pick(rng, EVENT_TYPES, n_events),
        "value": _money(rng, n_events, 0.01, 490.0),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]})
    return t


def embeddings_table(rng, n, dim=64, labels=10):
    """Unit vectors scattered around one random centre per label."""
    centres = rng.normal(size=(labels, dim))
    centres /= np.linalg.norm(centres, axis=1, keepdims=True)
    label = rng.integers(0, labels, n)
    v = centres[label] + rng.normal(scale=0.6 / np.sqrt(dim), size=(n, dim))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    v = v.astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": pa.array(label.astype(np.int32))})


# ---- corpus ----------------------------------------------------------

_ONSETS = ["b", "c", "d", "f", "g", "h", "k", "l", "m", "n", "p", "r", "s",
           "t", "v", "w", "z", "br", "st", "tr", "ch", "sh", "gr", "pl"]
_VOWELS = ["a", "e", "i", "o", "u", "ai", "ea", "ou"]


def vocabulary(rng, size):
    """`size` distinct lowercase pseudo-words of 1-4 syllables."""
    words, seen = [], set()
    while len(words) < size:
        w = "".join(_ONSETS[rng.integers(len(_ONSETS))] +
                    _VOWELS[rng.integers(len(_VOWELS))]
                    for _ in range(1 + rng.integers(4)))
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


def shingles(words, n=3):
    """Distinct word n-grams: the engine's `Hashing.shingleHashes` set,
    before hashing."""
    return {tuple(words[i:i + n]) for i in range(len(words) - n + 1)}


def jaccard(a, b):
    sa, sb = shingles(a), shingles(b)
    inter = len(sa & sb)
    return inter / (len(sa) + len(sb) - inter)


def fingerprint(text):
    """The exact-dedup key (d01): lower(trim, whitespace collapsed)."""
    return " ".join(text.split()).lower()


def documents_corpus(rng, n_docs, vocab_size, zipf_s, exact_share, near_share,
                     min_len=20, max_len=120):
    """Zipf-worded documents with planted exact and near duplicates.

    Exact copies repeat a base document's text, some with changed case or
    spacing that the exact-dedup fingerprint removes.  Near copies replace
    about 3% of a base document's words, which keeps the word-3-gram
    Jaccard at 0.8 or more (asserted); the pair is the planted near pair.
    """
    vocab = np.asarray(vocabulary(rng, vocab_size), dtype=object)
    p = 1.0 / np.arange(1, vocab_size + 1) ** zipf_s
    p /= p.sum()
    n_exact = int(round(n_docs * exact_share))
    n_near = int(round(n_docs * near_share))
    n_base = n_docs - n_exact - n_near
    lens = rng.integers(min_len, max_len + 1, n_base)
    flat = vocab[rng.choice(vocab_size, int(lens.sum()), p=p)]
    cuts = np.cumsum(lens)[:-1]
    base = [list(w) for w in np.split(flat, cuts)]
    texts = [" ".join(w) for w in base]
    roles = [("base", i) for i in range(n_base)]
    for _ in range(n_exact):
        src = int(rng.integers(n_base))
        words = base[src]
        style = int(rng.integers(3))
        if style == 0:
            text = " ".join(words)
        elif style == 1:
            text = " ".join(words).upper()
        else:
            text = "  " + "   ".join(words) + " "
        texts.append(text)
        roles.append(("exact", src))
    long_bases = [i for i, w in enumerate(base) if len(w) >= 40]
    for _ in range(n_near):
        src = long_bases[int(rng.integers(len(long_bases)))]
        words = list(base[src])
        k = max(1, int(0.03 * (len(words) - 2)))
        for pos in rng.choice(len(words), k, replace=False):
            repl = words[pos]
            while repl == words[pos]:
                repl = vocab[rng.choice(vocab_size, p=p)]
            words[pos] = repl
        j = jaccard(base[src], words)
        assert j >= 0.8, j
        texts.append(" ".join(words))
        roles.append(("near", src, round(j, 4)))
    # shuffle roles onto doc ids
    order = rng.permutation(len(texts))
    doc_of_slot = np.empty(len(texts), dtype=np.int64)
    doc_of_slot[order] = np.arange(len(texts))
    texts = [texts[i] for i in order]
    base_doc = doc_of_slot[:n_base]
    near_pairs = []
    for slot, role in enumerate(roles):
        if role[0] == "near":
            a, b = int(base_doc[role[1]]), int(doc_of_slot[slot])
            near_pairs.append([min(a, b), max(a, b), role[2]])
    fps = [fingerprint(t) for t in texts]
    truth = {
        "docs": n_docs,
        # copies beyond the first of each fingerprint, as d01 reports them
        "exact_redundant": n_docs - len(set(fps)),
        "near_pairs": sorted(near_pairs),
    }
    ids = np.arange(n_docs, dtype=np.int64)
    table = pa.table({
        "doc_id": pa.array(ids),
        "text": texts,
        "lang": _pick(rng, LANGS, n_docs, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64))})
    return table, truth


_LETTERS = "abcdefghijklmnopqrstuvwxyz"


def entity_names(rng, n, typo_share):
    """Customer names as random 'First Last' strings, with one-edit typo
    variants of earlier names planted at `typo_share`."""
    def word():
        k = int(rng.integers(5, 10))
        return "".join(_LETTERS[i] for i in rng.integers(0, 26, k)).capitalize()
    n_typo = int(round(n * typo_share))
    names = [f"{word()} {word()}" for _ in range(n - n_typo)]
    pairs = []
    for _ in range(n_typo):
        src = int(rng.integers(n - n_typo))
        s = names[src]
        pos = int(rng.integers(1, len(s)))
        op = int(rng.integers(3))
        c = _LETTERS[int(rng.integers(26))]
        if op == 0:
            v = s[:pos] + c + s[pos + 1:]
        elif op == 1:
            v = s[:pos] + s[pos + 1:]
        else:
            v = s[:pos] + c + s[pos:]
        if v == s:
            v = s[:pos] + s[pos + 1:]
        pairs.append([src, len(names)])
        names.append(v)
    return names, sorted(pairs)


# ---- balance-log lines (ETL) ------------------------------------------

_KINDS = ["invoice", "topup", "refund", "transfer"]


def balance_log_files(rng, n_files, lines_per_file, max_records, malformed_share,
                      hours, start="2024-03-01 00:00:00"):
    """JSON-array lines of balance-log records, one file per input batch.

    Records carry the 13 whitelisted keys plus two extra keys the
    normalize stage drops; `resource` is a nested object, `notes` is an
    empty object, a nested array or text.  `createdAt` is spread over
    `hours` hours.  A `malformed_share` of lines is not JSON.
    """
    t0 = _dt.datetime.strptime(start, "%Y-%m-%d %H:%M:%S")
    n_lines = n_files * lines_per_file
    bad = rng.random(n_lines) < malformed_share
    n_recs = rng.integers(1, max_records + 1, n_lines)
    n_recs[bad] = 0
    n = int(n_recs.sum())
    created = rng.integers(0, hours * 3600, n)
    amount = rng.integers(1, 100000, n)
    before = rng.integers(0, 10**6, n)
    rid = rng.integers(0, 2**62, n)
    acct = rng.integers(0, 5000, n)
    creator = rng.integers(0, 300, n)
    kinds = rng.integers(0, 4, (n, 2))
    res_id = rng.integers(0, 10**6, n)
    credit = rng.random(n) < 0.5
    notes_kind = rng.integers(0, 3, n)
    notes_val = rng.integers(0, 1000, n)
    shard = rng.integers(0, 4, n)
    garbage = rng.integers(1, 4, n_lines)
    stamps = {}

    def stamp(sec):
        if sec not in stamps:
            stamps[sec] = (t0 + _dt.timedelta(seconds=sec)).strftime(
                "%Y-%m-%d %H:%M:%S")
        return stamps[sec]

    files, per_hour, ids, lines = [], {}, [], []
    r = 0
    for i in range(n_lines):
        if bad[i]:
            lines.append("ERR " + "{" * int(garbage[i]) +
                         " upstream dump truncated")
        else:
            recs = []
            for _ in range(int(n_recs[i])):
                c = int(created[r])
                nk = int(notes_kind[r])
                rec = {
                    "_id": "%024x" % int(rid[r]),
                    "accountId": f"acc_{int(acct[r])}",
                    "creatorId": f"usr_{int(creator[r])}",
                    "creatorName": f"user {int(creator[r])}",
                    "resourceName": _KINDS[int(kinds[r, 0])],
                    "resource": {"kind": _KINDS[int(kinds[r, 1])],
                                 "id": int(res_id[r])},
                    "type": "credit" if credit[r] else "debit",
                    "amount": int(amount[r]),
                    "before": int(before[r]),
                    "after": int(before[r] + amount[r]),
                    "notes": ({} if nk == 0 else
                              ["auto", int(notes_val[r]) % 9] if nk == 1
                              else f"note {int(notes_val[r])}"),
                    "executeAt": stamp(c + 30),
                    "createdAt": stamp(c),
                    "__v": 0,
                    "meta": {"src": "mongo", "shard": int(shard[r])},
                }
                recs.append(rec)
                ids.append(rec["_id"])
                key = rec["createdAt"][:10] + "/" + rec["createdAt"][11:13]
                per_hour[key] = per_hour.get(key, 0) + 1
                r += 1
            lines.append(json.dumps(recs, separators=(",", ":")))
        if (i + 1) % lines_per_file == 0:
            files.append(("part-%04d.json" % len(files), "\n".join(lines) + "\n"))
            lines = []
    n_malformed, n_records = int(bad.sum()), n
    truth = {"lines": n_lines, "malformed": n_malformed, "records": n_records,
             "per_hour": dict(sorted(per_hour.items())),
             "ids_sha256": hashlib.sha256(
                 "\n".join(sorted(ids)).encode()).hexdigest()}
    return files, truth


# ---- workload inputs --------------------------------------------------

def _parquet_bytes(table):
    buf = io.BytesIO()
    pq.write_table(table, buf, compression="snappy", row_group_size=1 << 30)
    return buf.getvalue()


def build(workload, seed, spec):
    """All inputs of one workload as {relative path: bytes} plus truth."""
    rng = np.random.default_rng([seed, sum(map(ord, workload))])
    files, truth = {}, {}
    if workload == "query_mix":
        names, truth["name_pairs"] = entity_names(
            rng, spec["customers"], spec["typo_share"])
        for name, tab in warehouse_tables(rng, spec["customers"], names).items():
            files[f"{name}.parquet"] = _parquet_bytes(tab)
        docs, corpus_truth = documents_corpus(
            rng, spec["docs"], spec["vocab"], spec["zipf_s"],
            spec["exact_share"], spec["near_share"])
        truth.update(corpus_truth)
        files["documents.parquet"] = _parquet_bytes(docs)
        files["embeddings.parquet"] = _parquet_bytes(
            embeddings_table(rng, spec["vectors"]))
    elif workload == "etl":
        lines, truth = balance_log_files(
            rng, spec["files"], spec["lines_per_file"], spec["max_records"],
            spec["malformed_share"], spec["hours"])
        for name, text in lines:
            files[f"lines/{name}"] = text.encode()
    else:
        raise ValueError(workload)
    return files, truth


def digest(files):
    h = hashlib.sha256()
    for path in sorted(files):
        h.update(path.encode() + b"\0" + hashlib.sha256(files[path]).digest())
    return h.hexdigest()


def write_inputs(workload, seed, spec, out_dir):
    """Write one workload's inputs; returns (digest, truth)."""
    files, truth = build(workload, seed, spec)
    for rel, data in files.items():
        path = os.path.join(out_dir, rel)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "wb") as f:
            f.write(data)
    return digest(files), truth
