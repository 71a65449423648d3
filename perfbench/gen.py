"""Seeded input generators for the warehouse benchmark.

Two kinds of input, both a pure function of their parameters:

* ``write_fixture`` -- the ten warehouse tables (``region`` .. ``embeddings``)
  as one single-row-group parquet file each, shaped like the sf0.1 fixture the
  library's oracle queries are written against.  Every row's content is a
  function of its key alone (a counter-based hash of the key with a fixed
  salt), and the seed only decides WHICH keys are kept.  So the output is a
  keyed subsample of one fixed sf0.1-sized table set: orders are sampled by
  order key (their line items follow them), events by user (whole user
  sessions stay together), documents and embeddings by id; the small
  dimension tables are kept whole so every join still finds its partner.

* ``write_changelog`` -- a Maxwell-style CDC changelog over order keys: a
  bulk-load batch (one insert for each of ``keys`` keys) followed by
  ``batches`` micro-batches of ``batch_rows`` changes in an insert / update /
  delete mix.  Inserts add new keys; updates and deletes hit bulk-loaded keys
  with Zipf key skew, and one that hits a deleted key re-inserts it.  ``seq``
  is the global offset order, so every key's rows in batch N order after its
  rows in every earlier batch.

The same parameters give byte-identical parquet files.
"""
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SF01 = {"customer": 15000, "supplier": 1000, "part": 20000, "orders": 150000,
        "lineitem": 600000, "events": 100000, "documents": 5000,
        "embeddings": 2000}
WORDS = ("a the data spark stream batch query table row column key value "
         "hash join sort scan filter group agg window merge order customer "
         "part line vector fast slow big small").split()
PART_WORDS = ("large hot blue ring bolt small green nut red steel copper cold "
              "light dark soft hard").split()


def _mix(x):
    """splitmix64 finalizer over a uint64 array (wrapping arithmetic)."""
    x = np.asarray(x, dtype=np.uint64)
    with np.errstate(over="ignore"):
        x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        return x ^ (x >> np.uint64(31))


def _h(keys, salt):
    """Per-key pseudo-random uint64, independent for each salt string."""
    s = np.uint64(int.from_bytes(
        hashlib.blake2b(salt.encode(), digest_size=8).digest(), "little"))
    with np.errstate(over="ignore"):
        return _mix(_mix(np.asarray(keys, dtype=np.uint64) + s) ^ s)


def _u(keys, salt):
    """Per-key uniform float in [0, 1)."""
    return (_h(keys, salt) >> np.uint64(11)).astype(np.float64) / float(1 << 53)


def _int(keys, salt, lo, hi):
    """Per-key integer in [lo, hi)."""
    return lo + (_h(keys, salt) % np.uint64(hi - lo)).astype(np.int64)


def _keep(keys, seed, table, frac):
    """The round(frac * n) keys with the smallest seeded hash, in key order:
    which keys are kept depends on the seed, how many does not."""
    order = np.argsort(_h(keys, f"k{seed}/{table}"), kind="stable")
    return np.sort(keys[order[:round(frac * len(keys))]])


def _write(table, path):
    pq.write_table(table, path, compression="snappy",
                   row_group_size=max(1, table.num_rows))


def _ts(base, seconds):
    return pa.array((np.datetime64(base, "us") +
                     (np.asarray(seconds) * 1e6).astype("timedelta64[us]")),
                    type=pa.timestamp("us"))


def write_fixture(out_dir, seed, frac):
    """The ten tables, keyed-subsampled from the fixed sf0.1 table set.
    Returns {table: rows}."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}

    def emit(name, cols):
        t = pa.table(cols)
        _write(t, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = t.num_rows

    emit("region", {"r_regionkey": pa.array(range(5), pa.int32()),
                    "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE",
                               "MIDDLE EAST"]})
    nk = np.arange(25)
    emit("nation", {"n_nationkey": pa.array(nk, pa.int32()),
                    "n_name": [f"NATION_{i}" for i in nk],
                    "n_regionkey": pa.array(nk % 5, pa.int32())})
    ck = np.arange(SF01["customer"], dtype=np.int64)
    emit("customer", {
        "c_custkey": ck,
        "c_name": [f"Customer#{i:09d}" for i in ck],
        "c_nationkey": pa.array(_int(ck, "cn", 0, 25), pa.int32()),
        "c_acctbal": np.round(_int(ck, "cb", -99999, 1000000) / 100.0, 2),
        "c_mktsegment": np.array(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                  "HOUSEHOLD", "MACHINERY"])[_int(ck, "cs", 0, 5)]})
    sk = np.arange(SF01["supplier"], dtype=np.int64)
    emit("supplier", {
        "s_suppkey": sk, "s_name": [f"Supplier#{i:09d}" for i in sk],
        "s_nationkey": pa.array(_int(sk, "sn", 0, 25), pa.int32()),
        "s_acctbal": np.round(_int(sk, "sb", -99999, 1000000) / 100.0, 2)})
    pk = np.arange(SF01["part"], dtype=np.int64)
    pw = np.array(PART_WORDS)
    emit("part", {
        "p_partkey": pk,
        "p_name": np.char.add(np.char.add(pw[_int(pk, "p1", 0, 8)], " "),
                              pw[8 + _int(pk, "p2", 0, 8)]),
        "p_brand": np.char.add("Brand#", _int(pk, "pb", 1, 26).astype(str)),
        "p_type": np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                            "STANDARD"])[_int(pk, "pt", 0, 6)],
        "p_size": pa.array(_int(pk, "pz", 1, 51), pa.int32()),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2)})

    ok = _keep(np.arange(SF01["orders"], dtype=np.int64), seed, "orders", frac)
    emit("orders", {
        "o_orderkey": ok,
        "o_custkey": _int(ok, "oc", 0, SF01["customer"]),
        "o_orderstatus": np.array(["F", "O", "P"])[_int(ok, "os", 0, 3)],
        "o_totalprice": np.round(_int(ok, "op", 100000, 50000000) / 100.0, 2),
        "o_orderdate": _ts("1995-01-01", _int(ok, "od", 0, 2404) * 86400),
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                     "4-NOT SPECIFIED", "5-LOW"])[_int(ok, "oo", 0, 5)]})
    # line items belong to an order drawn per line key; keeping a line iff its
    # order is kept makes the sample keyed by order
    lk = np.arange(SF01["lineitem"], dtype=np.int64)
    l_order = _int(lk, "lo", 0, SF01["orders"])
    kept = np.isin(l_order, ok)
    lk, l_order = lk[kept], l_order[kept]
    emit("lineitem", {
        "l_orderkey": l_order,
        "l_partkey": _int(lk, "lp", 0, SF01["part"]),
        "l_suppkey": _int(lk, "ls", 0, SF01["supplier"]),
        "l_linenumber": pa.array(_int(lk, "ln", 1, 8), pa.int32()),
        "l_quantity": _int(lk, "lq", 1, 51).astype(np.float64),
        "l_extendedprice": np.round(_int(lk, "le", 90000, 10500000) / 100.0, 2),
        "l_discount": _int(lk, "ld", 0, 11) / 100.0,
        "l_tax": _int(lk, "lt", 0, 9) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[_int(lk, "lr", 0, 3)],
        "l_linestatus": np.array(["F", "O"])[_int(lk, "lst", 0, 2)],
        "l_shipdate": _ts("1995-01-02", _int(lk, "lsd", 0, 2499) * 86400)})

    # events: ids in time order over 30 days; sampled by user
    ek = np.arange(SF01["events"], dtype=np.int64)
    users = _int(ek, "eu", 0, 1500)
    kept_users = _keep(np.arange(1500, dtype=np.int64), seed, "events", frac)
    ek = ek[np.isin(users, kept_users)]
    secs = ek * (30 * 86400 / SF01["events"]) + _u(ek, "et") * 25.0
    emit("events", {
        "event_id": ek,
        "ts": _ts("2024-01-01", np.round(secs, 6)),
        "user_id": _int(ek, "eu", 0, 1500),
        "event_type": np.array(["click", "error", "purchase", "signup",
                                "view"])[_int(ek, "ey", 0, 5)],
        "value": np.round(-np.log1p(-_u(ek, "ev")) * 50.0, 2),
        "props": [f'{{"k": {k}}}' for k in _int(ek, "ep", 0, 100)]})

    dk = _keep(np.arange(SF01["documents"], dtype=np.int64), seed, "docs", frac)
    words = np.array(WORDS)
    texts = []
    for d in dk:
        n = int(_int(np.array([d]), "dn", 8, 100)[0])
        idx = _int(d * 1000 + np.arange(n), "dw", 0, len(WORDS))
        texts.append(" ".join(words[idx]))
    emit("documents", {
        "doc_id": dk, "text": texts,
        "lang": np.array(["en", "en", "en", "de", "es", "fr", "zh",
                          "en"])[_int(dk, "dl", 0, 8)],
        "source": [f"src{i % 20}" for i in dk],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})

    vk = _keep(np.arange(SF01["embeddings"], dtype=np.int64), seed, "emb", frac)
    flat = vk[:, None] * 64 + np.arange(64)[None, :]
    # Box-Muller over two per-cell uniforms: normal(0, 0.13) components
    u1 = np.maximum(_u(flat.ravel(), "g1"), 1e-12)
    u2 = _u(flat.ravel(), "g2")
    z = (np.sqrt(-2.0 * np.log(u1)) * np.cos(2 * np.pi * u2) * 0.13).astype(np.float32)
    emit("embeddings", {
        "vec_id": vk,
        "embedding": pa.array(list(z.reshape(len(vk), 64)), pa.list_(pa.float32())),
        "label": pa.array(_int(vk, "vl", 0, 10), pa.int32())})
    return rows


def changelog(seed, keys, skew, batch_rows, batches, mix):
    """Columns of the CDC changelog, {name: array}: batch, seq, order_id,
    type, status, sku_id, user_id, amount, ts.  Batch 0 is the bulk load: one
    insert for each of the ``keys`` keys.

    ``mix`` is the (insert, update, delete) share of the changes.  An insert
    creates a new key; an update or a delete picks one of the bulk-loaded
    keys, Zipf-skewed with exponent ``skew`` over a seeded key order, and a
    pick of a deleted key re-inserts it."""
    rng = np.random.Generator(np.random.PCG64(seed))
    perm = rng.permutation(keys)
    w = 1.0 / np.arange(1, keys + 1) ** skew
    n = batch_rows * batches
    picks = perm[rng.choice(keys, size=n, p=w / w.sum())]
    kind = rng.choice(3, size=n, p=np.asarray(mix) / sum(mix))
    status = rng.integers(0, 6, size=n + keys)
    # the 20,000 parts of sf0.1, skewed so the top-K summary has heavy items
    sku = (20000 * rng.random(n + keys) ** 3).astype(np.int64)
    # the 1,000 suppliers of sf0.1 (the Maxwell recipe's user_id)
    user = rng.integers(0, 1000, size=n + keys)
    cents = rng.integers(100, 100000, size=n + keys)
    names = np.array(["created", "paid", "shipped", "delivered", "closed",
                      "refunded"])
    live = np.ones(keys, dtype=bool)
    order_id = np.empty(n, dtype=np.int64)
    typ = np.empty(n, dtype=object)
    fresh = keys
    for i in range(n):
        if kind[i] == 0:
            k, t = fresh, "insert"
            fresh += 1
        else:
            k = int(picks[i])
            t = ("insert" if not live[k] else
                 "update" if kind[i] == 1 else "delete")
            live[k] = t != "delete"
        order_id[i], typ[i] = k, t
    seq = np.arange(keys + n, dtype=np.int64)
    return {
        "batch": np.concatenate([np.zeros(keys, np.int64),
                                 1 + np.arange(n) // batch_rows]),
        "seq": seq,
        "order_id": np.concatenate([np.arange(keys, dtype=np.int64), order_id]),
        "type": np.concatenate([np.full(keys, "insert", dtype=object), typ]),
        "status": names[status],
        "sku_id": sku,
        "user_id": user,
        "amount": cents / 100.0,
        "ts": 1_700_000_000 + seq,
    }


def write_changelog(out_dir, seed, keys, skew, batch_rows, batches, mix):
    """One parquet file per batch (``batch_00000.parquet`` is the bulk load)."""
    os.makedirs(out_dir, exist_ok=True)
    cols = changelog(seed, keys, skew, batch_rows, batches, mix)
    schema = pa.schema([("seq", pa.int64()), ("order_id", pa.int64()),
                        ("type", pa.string()), ("status", pa.string()),
                        ("sku_id", pa.int64()), ("user_id", pa.int64()),
                        ("amount", pa.float64()), ("ts", pa.int64())])
    starts = np.searchsorted(cols["batch"], np.arange(batches + 2))
    for i in range(batches + 1):
        lo, hi = starts[i], starts[i + 1]
        t = pa.table([pa.array(cols[f.name][lo:hi], type=f.type)
                      for f in schema], schema=schema)
        _write(t, os.path.join(out_dir, f"batch_{i:05d}.parquet"))
    return len(cols["seq"])


def dir_digest(path):
    """sha256 over every file's relative name and bytes, in name order."""
    h = hashlib.sha256()
    for root, _, files in sorted(os.walk(path)):
        for f in sorted(files):
            p = os.path.join(root, f)
            h.update(os.path.relpath(p, path).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()
