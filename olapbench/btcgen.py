"""Seeded synthetic Bitcoin chain for the btc_ledger workload.

Writes, in the shapes of graft.model.Schemas:
  transactions.parquet   nested inputs/outputs: array<struct<addresses
                         array<string>, value decimal(38,9)>>, in satoshi
  inputs.parquet         one row per input leg (the flat leg table)
  outputs.parquet        one row per output leg
  address_book.parquet   wallet -> address, with exact duplicate rows
  wallet_location.ndjson the 121-row wallet -> location dimension

The chain is the mini chain of src/test/scala/graft/Fixtures.scala (the
repository's fixture for this pipeline, written to FIXTURES.md from the
reference's data contract) drawn at scale: every mix below is read off
that fixture, or off SURVEY.md where noted, and where they give no weights
each case they show counts once. NOTES.md lists every parameter with its
source. The repository holds no statistics of the real chain, so this is
the fixture's mix, not a model of Bitcoin traffic.

The same seed gives byte-identical files; the content hash covers every
file.

    python3 olapbench/btcgen.py <out_dir> <seed> [n_transactions]
"""
import hashlib
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# The size: the one parameter without a source, set so the timed pass
# takes about ten seconds on four cores.
N_TRANSACTIONS = 250_000

# Fixtures.transactions, leg by leg: (addresses on the leg, satoshi). The
# addresses keep the fixture's names; only their count is used here.
FIXTURE_TX = [
    # tx1: 1-in/1-out
    ([(["A"], 150_000_000)], [(["B"], 149_000_000)]),
    # tx2: 2-in/1-out, one input leg with two addresses
    ([(["B", "C"], 50_000_000), (["D"], 25_000_000)], [(["E"], 74_000_000)]),
    # tx3: congruent 2-in/2-out
    ([(["E"], 30_000_000), (["A"], 10_000_000)], [(["F"], 20_000_000), (["G"], 19_000_000)]),
    # tx4: an input leg with no address
    ([([], 5_000_000)], [(["B"], 4_900_000)]),
]
# Fixtures.addressBook: the fixture transactions' addresses A-G that have a
# wallet, and the wallets' addresses that no transaction uses (addrEE)
FIXTURE_BOOK_USED = {"A", "B", "E", "F"}
FIXTURE_BOOK_UNUSED = 1
# Fixtures.addressBook writes one of its 5 distinct (wallet, address) rows
# twice, and its 4 wallets are 4 of the 7 in Fixtures.walletLocationNdjson
FIXTURE_BOOK_PAIRS, FIXTURE_BOOK_DUPS = 5, 1
FIXTURE_WALLETS_BOOK, FIXTURE_WALLETS_DIM = 4, 7
# Fixtures.walletLocationNdjson's locations, and its 1 row of 7 with a note
# in the junk column
FIXTURE_LOCATIONS = ["China", "Russia", "?", None, "Brazil,Zibralter,Mexico", "US", "USA"]
FIXTURE_NOTES = 1
# Fixture values are whole multiples of 100 000 satoshi; the seed fills the
# digits below, so every satoshi digit of decimal(38,9) is exercised
VALUE_STEP = 100_000
# SURVEY.md: wallet_location2.ndjson has 121 rows; the reference's daily
# series runs over ~3-7 years, here the 3 years centred on the split
N_LOCATED = 121
SPLIT = np.datetime64("2021-09-24T00:00:00", "s")
START = SPLIT - np.timedelta64(548 * 86400, "s")
END = SPLIT + np.timedelta64(548 * 86400, "s")
# Fixtures' tx1 is block 700001 at 2021-09-20 10:00; one block per 600 s,
# Bitcoin's block interval target
BLOCK0, BLOCK0_TIME, BLOCK_S = 700_001, np.datetime64("2021-09-20T10:00:00", "s"), 600


def _mix(x):
    """splitmix64 finalizer: a bijection on uint64, so distinct ids give
    distinct hashes."""
    x = (x + np.uint64(0x9E3779B97F4A7C15)).astype(np.uint64)
    x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return x ^ (x >> np.uint64(31))


def _names(prefix, ids):
    return pc.binary_join_element_wise(prefix, pc.cast(pa.array(ids), pa.string()), "")


def _fixture_counts():
    """Address slots per fixture transaction, and distinct addresses over
    all of them."""
    slots = [sum(len(a) for side in tx for a, _ in side) for tx in FIXTURE_TX]
    distinct = {x for tx in FIXTURE_TX for side in tx for a, _ in side for x in a}
    return slots, distinct


def _legs(rng, shape, side, pool):
    """One side's legs for every transaction: the leg structure and values
    of its fixture transaction, each address slot drawn uniformly from the
    address pool, each value the fixture's plus a seeded satoshi part."""
    tmpl = [tx[side] for tx in FIXTURE_TX]
    count = np.array([len(t) for t in tmpl])
    start = np.concatenate([[0], np.cumsum(count)[:-1]])
    t_naddr = np.array([len(a) for t in tmpl for a, _ in t])
    t_sat = np.array([s for t in tmpl for _, s in t], dtype=np.int64)
    per_tx = count[shape]
    leg_off = np.concatenate([[0], np.cumsum(per_tx)]).astype(np.int32)
    n_legs = int(leg_off[-1])
    leg = np.repeat(start[shape], per_tx) + np.arange(n_legs) - np.repeat(leg_off[:-1], per_tx)
    per_leg = t_naddr[leg]
    addr_off = np.concatenate([[0], np.cumsum(per_leg)]).astype(np.int32)
    addrs = pc.take(pool, pa.array(rng.integers(0, len(pool), int(addr_off[-1]))))
    addresses = pa.ListArray.from_arrays(pa.array(addr_off), addrs)
    sats = t_sat[leg] + rng.integers(0, VALUE_STEP, n_legs)
    value = pc.cast(pa.array(sats), pa.decimal128(38, 9))
    legs = pa.StructArray.from_arrays([addresses, value], ["addresses", "value"])
    return per_tx, addresses, pa.ListArray.from_arrays(pa.array(leg_off), legs)


def generate(out, seed, n_tx=N_TRANSACTIONS):
    """Write the chain under `out`; returns {file: (rows, bytes)} and the
    content hash."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.Generator(np.random.PCG64(seed))
    salt = np.uint64(seed) * np.uint64(0x100000000)
    shape = rng.integers(0, len(FIXTURE_TX), n_tx)

    # the address pool: the fixture's distinct addresses per address slot,
    # the book's share of them, and its share of addresses no leg uses
    slots, distinct = _fixture_counts()
    n_pool = round(int(np.array(slots)[shape].sum()) * len(distinct) / sum(slots))
    n_used_book = round(n_pool * len(FIXTURE_BOOK_USED) / len(distinct))
    n_book = n_used_book + round(n_used_book * FIXTURE_BOOK_UNUSED / len(FIXTURE_BOOK_USED))
    ids = _mix(np.arange(n_book + n_pool - n_used_book, dtype=np.uint64) + salt)
    book_addr = _names("bc1q", ids[:n_book])
    pool = pa.concat_arrays([book_addr.slice(0, n_used_book), _names("1", ids[n_book:])])

    # wallets exch0 .. exch120 (exch1 and exch12 share a prefix, as the
    # fixture's exchB and exchB2); the book's wallets are a share of them,
    # each book address belongs to one, and a share of the rows is doubled
    wallets = [f"exch{i}" for i in range(N_LOCATED)]
    in_book = np.sort(rng.permutation(N_LOCATED)[:round(N_LOCATED * FIXTURE_WALLETS_BOOK / FIXTURE_WALLETS_DIM)])
    owner = in_book[rng.integers(0, len(in_book), n_book)]
    dup = np.flatnonzero(rng.random(n_book) < FIXTURE_BOOK_DUPS / FIXTURE_BOOK_PAIRS)
    rows = np.concatenate([np.arange(n_book), dup])
    order = rng.permutation(len(rows))
    book = pa.table({"wallet": pc.take(pa.array(wallets), pa.array(owner[rows[order]])),
                     "address": pc.take(book_addr, pa.array(rows[order]))})

    ts = START + rng.integers(0, int((END - START).astype(np.int64)), n_tx).astype("timedelta64[s]")
    ts_arr = pa.array(ts.astype("datetime64[us]"), pa.timestamp("us", tz="UTC"))
    block = (BLOCK0 + (ts - BLOCK0_TIME).astype(np.int64) // BLOCK_S).astype(np.int64)
    hashes = _names("tx", _mix(np.arange(n_tx, dtype=np.uint64) + salt + np.uint64(1 << 40)))
    n_in, in_addr, inputs = _legs(rng, shape, 0, pool)
    n_out, out_addr, outputs = _legs(rng, shape, 1, pool)
    tx = pa.table({
        "hash": hashes, "block_timestamp": ts_arr, "block_number": pa.array(block),
        "input_count": pa.array(n_in.astype(np.int64)), "output_count": pa.array(n_out.astype(np.int64)),
        "inputs": inputs, "outputs": outputs})

    def flat(per_tx, addresses):
        owner_tx = pa.array(np.repeat(np.arange(n_tx), per_tx))
        return pa.table({"block_timestamp": pc.take(ts_arr, owner_tx),
                         "transaction_hash": pc.take(hashes, owner_tx),
                         "block_number": pc.take(pa.array(block), owner_tx),
                         "addresses": addresses})

    files = {}
    for name, table in [("transactions", tx), ("inputs", flat(n_in, in_addr)),
                        ("outputs", flat(n_out, out_addr)), ("address_book", book)]:
        path = os.path.join(out, f"{name}.parquet")
        pq.write_table(table, path, row_group_size=256 * 1024)
        files[f"{name}.parquet"] = (table.num_rows, os.path.getsize(path))

    loc = rng.integers(0, len(FIXTURE_LOCATIONS), N_LOCATED)
    note = rng.random(N_LOCATED) < FIXTURE_NOTES / FIXTURE_WALLETS_DIM
    path = os.path.join(out, "wallet_location.ndjson")
    with open(path, "w") as f:
        for w, l, n in zip(wallets, loc, note):
            rec = {"wallet": w, "location": FIXTURE_LOCATIONS[l], "Unnamed: 2": "note here" if n else None}
            f.write(json.dumps(rec) + "\n")
    files["wallet_location.ndjson"] = (N_LOCATED, os.path.getsize(path))
    return files, content_hash(out, files)


def content_hash(out, files):
    h = hashlib.sha256()
    for name in sorted(files):
        h.update(name.encode())
        with open(os.path.join(out, name), "rb") as f:
            for block in iter(lambda: f.read(1 << 20), b""):
                h.update(block)
    return h.hexdigest()


def flattened(out):
    """The generated arrays exploded, for the reference SQL: one row per
    (leg, address) of the flat leg tables and of the nested transactions.
    An empty or null array gives no row, as SQL UNNEST and Spark's explode."""
    def explode(table, col, keep):
        arr = table.column(col).combine_chunks()
        parent = pc.list_parent_indices(arr)
        cols = {k: pc.take(table.column(k), parent) for k in keep}
        return cols, pc.list_flatten(arr)

    res = {}
    for side in ("input", "output"):
        flat = pq.read_table(os.path.join(out, f"{side}s.parquet"))
        cols, a = explode(flat, "addresses", ["block_timestamp", "transaction_hash", "block_number"])
        res[f"{side}_addresses"] = pa.table(dict(cols, a=a))
        tx = pq.read_table(os.path.join(out, "transactions.parquet"),
                           columns=["hash", "block_timestamp", f"{side}s"])
        cols, legs = explode(tx, f"{side}s", ["hash", "block_timestamp"])
        addresses, value = legs.flatten()
        legs_t = pa.table(dict(cols, addresses=addresses, satoshi=pc.cast(value, pa.int64())))
        cols, addr = explode(legs_t, "addresses", ["hash", "block_timestamp", "satoshi"])
        res[f"tx_{side}_legs"] = pa.table({"txid": cols["hash"], "block_timestamp": cols["block_timestamp"],
                                           "addr": addr, "satoshi": cols["satoshi"]})
    return res


if __name__ == "__main__":
    out, seed = sys.argv[1], int(sys.argv[2])
    n = int(sys.argv[3]) if len(sys.argv) > 3 else N_TRANSACTIONS
    files, digest = generate(out, seed, n)
    print(json.dumps({"files": files, "sha256": digest}))
