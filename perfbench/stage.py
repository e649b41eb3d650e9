"""Deterministic inputs for every workload, made from the seed alone.

Each `stage_*` function writes a workload's input files under `dest` and
returns the expected outputs the checks compare against. The engine only
ever sees the files; the expectations are computed here, independently.
"""

import datetime as dt
import json
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

# keccak256 of the ERC-20 event and function signatures (public constants)
TRANSFER_TOPIC = "0xddf252ad1be2c89b69c2b068fc378daa952ba7f163c4a11628f55a4df523b3ef"
APPROVAL_TOPIC = "0x8c5be1e5ebec7d5bd14f71427d1e84f3dd0314c0f7b2291e5b200ac8c7c3b925"
TRANSFER_SELECTOR = "0xa9059cbb"

ERC20_ABI = {
    "contract_name": "erc20",
    "dataset_name": "common",
    "abi": [
        {"type": "event", "name": "Transfer", "anonymous": False, "inputs": [
            {"name": "from", "type": "address", "indexed": True},
            {"name": "to", "type": "address", "indexed": True},
            {"name": "value", "type": "uint256", "indexed": False}]},
        {"type": "event", "name": "Approval", "anonymous": False, "inputs": [
            {"name": "owner", "type": "address", "indexed": True},
            {"name": "spender", "type": "address", "indexed": True},
            {"name": "value", "type": "uint256", "indexed": False}]},
        {"type": "function", "name": "transfer",
         "inputs": [{"name": "to", "type": "address"},
                    {"name": "value", "type": "uint256"}],
         "outputs": [{"name": "", "type": "bool"}]},
    ],
}

# Chain-day sizes: blocks per day, transactions per block and days
# staged (a run times one day, more on a fast host).
EVM_SIZES = {
    "evm_daily_backfill": {"blocks": 64, "txs": 4, "days": 4},
    "evm_bulk_day": {"blocks": 500, "txs": 200, "days": 1},
}

# Shares of logs by kind; the rest carry an unrelated topic.
TRANSFER_SHARE = 0.4
APPROVAL_SHARE = 0.2
# Share of transactions that call transfer(address,uint256).
CALL_SHARE = 0.3


def window_start(seed):
    """The first day of the seed's window."""
    return dt.date(2022, 1, 1) + dt.timedelta(days=seed % 360)


def _epoch(day):
    return int(dt.datetime(day.year, day.month, day.day,
                           tzinfo=dt.timezone.utc).timestamp())


def _addr(n):
    return "0x%040x" % n


def _word(n):
    return "%064x" % n


def _write_lines(path, lines, rng):
    rng.shuffle(lines)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        f.write("\n".join(lines))
        f.write("\n")


def _evm_day(day, first_block, sizes, rng, token_pool, seen_tokens):
    """Raw exports of one chain-day plus what the warehouse must hold."""
    ds = day.isoformat()
    n_blocks, n_txs = sizes["blocks"], sizes["txs"]
    start = _epoch(day)
    rows = {r: [] for r in ("blocks", "logs", "receipts", "tokens", "traces",
                            "transactions")}
    exp = {"transfers": [], "calls": []}
    gas_rows = ([], [])  # block time, gas price of every transaction
    dump = json.dumps
    for b in range(n_blocks):
        num = first_block + b
        bhash = "0x" + _word(num * 2654435761 + 17)
        ts = start + b * (86400 // n_blocks) + rng.randrange(86400 // n_blocks)
        rows["blocks"].append(dump({
            "number": num, "hash": bhash,
            "parent_hash": "0x" + _word((num - 1) * 2654435761 + 17),
            "nonce": "0x%016x" % rng.getrandbits(64), "sha3_uncles": "0x0",
            "logs_bloom": "0x0", "transactions_root": "0x0",
            "state_root": "0x0", "receipts_root": "0x0",
            "miner": _addr(rng.randrange(1, 50)),
            "difficulty": rng.randrange(10 ** 12),
            "total_difficulty": num * 10 ** 12, "size": rng.randrange(500, 90000),
            "extra_data": "0x", "gas_limit": 30000000,
            "gas_used": rng.randrange(30000000), "timestamp": ts,
            "transaction_count": n_txs,
            "base_fee_per_gas": rng.randrange(10 ** 9, 10 ** 11)}))
        # one reward trace per block: a root trace with no transaction
        rows["traces"].append(dump({
            "block_number": num, "transaction_hash": None,
            "transaction_index": None, "from_address": None,
            "to_address": _addr(rng.randrange(1, 50)),
            "value": 2 * 10 ** 18, "input": None, "output": None,
            "trace_type": "reward", "call_type": None,
            "reward_type": "block", "gas": None, "gas_used": None,
            "subtraces": 0, "trace_address": "[]", "error": None,
            "status": 1, "trace_id": "reward_%d" % num}))
        cum_gas = 0
        for t in range(n_txs):
            txh = "0x" + _word((num << 16 | t) * 11400714819323198485 % 2 ** 256)
            sender = _addr(rng.randrange(1, 5000))
            to = _addr(rng.randrange(1, 5000))
            token = token_pool[rng.randrange(len(token_pool))]
            value = rng.randrange(1, 10 ** 18)
            calls = rng.random() < CALL_SHARE
            if calls:
                inp = TRANSFER_SELECTOR + _word(int(to, 16)) + _word(value)
                exp["calls"].append((txh, to, str(value)))
            else:
                inp = "0x" + "%08x" % rng.getrandbits(32)
            gas = rng.randrange(21000, 200000)
            cum_gas += gas
            price = rng.randrange(10 ** 9, 10 ** 11)
            gas_rows[0].append(ts)
            gas_rows[1].append(price)
            rows["transactions"].append(dump({
                "hash": txh, "nonce": rng.randrange(10 ** 6),
                "block_hash": bhash, "block_number": num,
                "transaction_index": t, "from_address": sender,
                "to_address": token if calls else to, "value": value,
                "gas": gas, "gas_price": price,
                "input": inp, "max_fee_per_gas": rng.randrange(10 ** 11),
                "max_priority_fee_per_gas": rng.randrange(10 ** 9),
                "transaction_type": rng.randrange(3)}))
            rows["receipts"].append(dump({
                "transaction_hash": txh, "transaction_index": t,
                "block_hash": bhash, "block_number": num,
                "cumulative_gas_used": cum_gas, "gas_used": gas,
                "contract_address": None, "root": "0x0", "status": 1,
                "effective_gas_price": rng.randrange(10 ** 9, 10 ** 11)}))
            rows["traces"].append(dump({
                "block_number": num, "transaction_hash": txh,
                "transaction_index": t, "from_address": sender,
                "to_address": token if calls else to, "value": value,
                "input": inp, "output": "0x" + _word(1) if calls else "0x",
                "trace_type": "call", "call_type": "call",
                "reward_type": None, "gas": gas, "gas_used": gas // 2,
                "subtraces": 1 if t % 2 == 0 else 0, "trace_address": "[]",
                "error": None, "status": 1, "trace_id": "call_%s_" % txh}))
            if t % 2 == 0:
                rows["traces"].append(dump({
                    "block_number": num, "transaction_hash": txh,
                    "transaction_index": t, "from_address": token,
                    "to_address": to, "value": 0, "input": "0x",
                    "output": "0x", "trace_type": "call",
                    "call_type": "staticcall", "reward_type": None,
                    "gas": gas // 3, "gas_used": gas // 4, "subtraces": 0,
                    "trace_address": "[0]", "error": None, "status": 1,
                    "trace_id": "call_%s_0" % txh}))
            kind = rng.random()
            if kind < TRANSFER_SHARE:
                topics = [TRANSFER_TOPIC, "0x" + _word(int(sender, 16)),
                          "0x" + _word(int(to, 16))]
                exp["transfers"].append((txh, sender, to, str(value)))
            elif kind < TRANSFER_SHARE + APPROVAL_SHARE:
                topics = [APPROVAL_TOPIC, "0x" + _word(int(sender, 16)),
                          "0x" + _word(int(to, 16))]
            else:
                topics = ["0x" + _word(rng.getrandbits(256))]
            # the exporter's three topics encodings
            if len(topics) == 1 and t % 3 == 2:
                enc = topics[0]
            elif t % 3 == 1:
                enc = json.dumps(topics)
            else:
                enc = ",".join(topics)
            rows["logs"].append(dump({
                "log_index": t, "transaction_hash": txh,
                "transaction_index": t, "block_hash": bhash,
                "block_number": num, "address": token,
                "data": "0x" + _word(value), "topics": enc}))
    # tokens: mostly new addresses, a few already loaded on earlier days
    new = []
    for _ in range(max(2, n_blocks // 8)):
        a = _addr(rng.getrandbits(120))
        new.append(a)
    old = rng.sample(sorted(seen_tokens), min(2, len(seen_tokens)))
    for a in new + old:
        rows["tokens"].append(dump({
            "address": a, "symbol": "T%d" % rng.randrange(1000),
            "name": "token", "decimals": "18",
            "total_supply": str(rng.randrange(10 ** 30)),
            "block_number": first_block + rng.randrange(n_blocks)}))
    seen_tokens.update(new)
    counts = {r: len(v) for r, v in rows.items()}
    exp.update(day=ds, counts=counts, new_tokens=new,
               root_traces=n_blocks * n_txs)
    return rows, gas_rows, exp


# Earlier days the decoded tables already hold.
HISTORY_DAYS = 7


def _parse_history(out, days, rng):
    """Decoded rows of `days` in the parse warehouse's layout and schema,
    as a warehouse mid catch-up holds them (as many rows as a staged day
    decodes)."""
    n = 100
    meta = {
        "block_timestamp": pa.array(
            [_epoch(days[0]) * 10 ** 6] * n, pa.timestamp("us")),
        "block_number": pa.array(range(n), pa.int64()),
        "block_hash": ["0x" + _word(i) for i in range(n)],
        "transaction_hash": ["0x" + _word(rng.getrandbits(256))
                             for _ in range(n)],
        "transaction_index": pa.array([0] * n, pa.int64())}
    value = pa.array([rng.randrange(10 ** 18) for _ in range(n)],
                     pa.decimal128(38, 0))
    addrs = [_addr(rng.randrange(1, 5000)) for _ in range(n)]
    tables = {
        "common_erc20_evt_Transfer": dict(
            {"from": addrs, "to": addrs, "value": value}, **meta,
            log_index=pa.array([0] * n, pa.int64()), address=addrs),
        "common_erc20_call_transfer": dict(
            {"to": addrs, "value": value, "output_0": [True] * n}, **meta,
            trace_address=["[]"] * n, to_address=addrs, from_address=addrs,
            trace_id=["call"] * n, status=pa.array([1] * n, pa.int64()),
            error=pa.array([None] * n, pa.string()))}
    for day in days:
        for name, cols in tables.items():
            d = os.path.join(out, "parse", "common", name,
                             "dt=%s" % day.isoformat())
            os.makedirs(d)
            pq.write_table(pa.table(cols), os.path.join(d, "history.parquet"),
                           use_deprecated_int96_timestamps=True)


def stage_evm(dest, out, workload, seed):
    """Per-day JSON-lines exports in the raw layout, plus the parse
    warehouse's earlier days under `out`. Returns the expected warehouse
    contents of every day, in order."""
    sizes = EVM_SIZES[workload]
    rng = random.Random(seed * 1000003 + len(workload))
    start = window_start(seed)
    # one token set for every seed: log partitions are bucketed by
    # address, so the files a day writes do not swing with the seed
    token_pool = [_addr(0x70CE + 7919 * k) for k in range(20)]
    days = [start + dt.timedelta(days=i) for i in range(sizes["days"])]
    _parse_history(out, [start - dt.timedelta(days=HISTORY_DAYS - i)
                         for i in range(HISTORY_DAYS)], rng)
    expected = []
    seen = set()
    for i, day in enumerate(days):
        rows, gas, exp = _evm_day(
            day, 10_000_000 + i * sizes["blocks"], sizes, rng, token_pool,
            seen)
        ds = day.isoformat()
        for res, lines in rows.items():
            _write_lines(os.path.join(dest, "export", "ethereum", res,
                                      "block_date=" + ds, res + ".json"),
                         lines, rng)
        # the day's gas prices, as parquet for the synopsis stream
        p = os.path.join(dest, "gas", ds, "gas.parquet")
        os.makedirs(os.path.dirname(p))
        pq.write_table(pa.table({
            "ts": pa.array([t * 10 ** 6 for t in gas[0]], pa.timestamp("us")),
            "gas_price": pa.array(gas[1], pa.int64())}), p)
        expected.append(exp)
    with open(os.path.join(dest, "days.txt"), "w") as f:
        f.write("\n".join(d.isoformat() for d in days) + "\n")
    os.makedirs(os.path.join(dest, "abi"), exist_ok=True)
    with open(os.path.join(dest, "abi", "erc20.json"), "w") as f:
        json.dump(ERC20_ABI, f)
    return {"days": expected, "gas_dir": os.path.join(dest, "gas")}


# Curation corpus shape per shard.
STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]
CURATION_SHARDS = 3
GOOD_DOCS, DUP_DOCS, JUNK_DOCS = 150, 40, 30
CORE_NODES, PERIPHERY_NODES = 30, 170
VECTORS, VEC_DIM, EXACT_DUP_VECS, NEAR_DUP_VECS = 200, 16, 12, 8


def _doc(rng, vocab, lo, hi):
    words = [rng.choice(STOPWORDS) if rng.random() < 0.25
             else rng.choice(vocab) for _ in range(rng.randint(lo, hi))]
    words[:2] = ["the", "of"]  # every good document has two stop words
    return words


def _curation_shard(dest, shard_no, rng, vocab):
    base = shard_no * 100_000
    ids = rng.sample(range(base, base + 10_000),
                     GOOD_DOCS + DUP_DOCS + JUNK_DOCS)
    texts = {}
    good = ids[:GOOD_DOCS]
    for i in good:
        texts[i] = _doc(rng, vocab, 40, 90)
    for i in ids[GOOD_DOCS:GOOD_DOCS + DUP_DOCS]:
        words = list(texts[rng.choice(good)])
        for _ in range(rng.randint(1, 3)):
            words[rng.randrange(2, len(words))] = rng.choice(vocab)
        texts[i] = words
    for i in ids[GOOD_DOCS + DUP_DOCS:]:
        texts[i] = _doc(rng, vocab, 5, 15)
    order = sorted(texts)
    rng.shuffle(order)
    pq.write_table(pa.table({
        "doc_id": pa.array(order, pa.int64()),
        "text": [" ".join(texts[i]) for i in order],
        "source": ["src%d" % (i % 4) for i in order]}),
        os.path.join(dest, "documents.parquet"))

    nodes = list(range(base, base + CORE_NODES + PERIPHERY_NODES))
    core, periphery = nodes[:CORE_NODES], nodes[CORE_NODES:]
    edges = set()
    for a in core:
        for b in rng.sample(core, 6):
            if a != b:
                edges.add((a, b))
    for a in periphery:
        for _ in range(rng.randint(1, 2)):
            edges.add((a, rng.choice(core)))
    edges = sorted(edges)
    rng.shuffle(edges)
    pq.write_table(pa.table({
        "src": pa.array([e[0] for e in edges], pa.int64()),
        "dst": pa.array([e[1] for e in edges], pa.int64())}),
        os.path.join(dest, "links.parquet"))

    vecs = {}
    vid = rng.sample(range(base, base + 10_000),
                     VECTORS + EXACT_DUP_VECS + NEAR_DUP_VECS)
    for i in vid[:VECTORS]:
        v = [rng.gauss(0, 1) for _ in range(VEC_DIM)]
        n = sum(x * x for x in v) ** 0.5
        vecs[i] = [x / n for x in v]
    originals = vid[:VECTORS]
    exact = []
    for i in vid[VECTORS:VECTORS + EXACT_DUP_VECS]:
        o = rng.choice(originals)
        vecs[i] = list(vecs[o])
        exact.append((o, i))
    for i in vid[VECTORS + EXACT_DUP_VECS:]:
        vecs[i] = [x + rng.gauss(0, 0.002) for x in vecs[rng.choice(originals)]]
    order = sorted(vecs)
    rng.shuffle(order)
    pq.write_table(pa.table({
        "vec_id": pa.array(order, pa.int64()),
        "embedding": pa.array([vecs[i] for i in order],
                              pa.list_(pa.float32())),
        "label": pa.array([i % 3 for i in order], pa.int32())}),
        os.path.join(dest, "embeddings.parquet"))
    return {"texts": {i: " ".join(t) for i, t in texts.items()},
            "edges": edges, "core": core, "exact_vec_dups": exact}


def stage_curation(dest, seed):
    """Corpus shards: documents (good, near-duplicate and junk), a
    core-periphery link graph and embeddings with injected duplicates."""
    rng = random.Random(seed * 7919 + 3)
    letters = "abcdefghijklmnopqrstuvwxyz"
    vocab = sorted({"".join(rng.choice(letters)
                            for _ in range(rng.randint(3, 8)))
                    for _ in range(1500)} - set(STOPWORDS))
    names = ["shard_%d" % (seed % 1000 * 100 + i)
             for i in range(CURATION_SHARDS)]
    expected = []
    for i, name in enumerate(names):
        d = os.path.join(dest, name)
        os.makedirs(d, exist_ok=True)
        expected.append(dict(_curation_shard(d, i, rng, vocab), shard=name))
    with open(os.path.join(dest, "shards.txt"), "w") as f:
        f.write("\n".join(names) + "\n")
    return {"shards": expected}


def stage(dest, out, workload, seed):
    """Stages `workload`'s inputs under `dest` (and state its outputs
    start from under `out`); returns the expected outputs."""
    if workload.startswith("evm_"):
        return stage_evm(dest, out, workload, seed)
    if workload == "corpus_curation":
        return stage_curation(dest, seed)
    raise ValueError("unknown workload %s" % workload)
