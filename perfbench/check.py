"""Output checks, computed independently of the engine.

Each `check_*` function takes the expectations `stage.py` returned, the
benchmark process's result record and its units, and returns one list of
problems per unit (empty when the unit's outputs are correct). Outputs
are read back with DuckDB.
"""

import os
from fractions import Fraction

import duckdb


def scan(path):
    """DuckDB scan of a (hive-partitioned) parquet directory."""
    return "read_parquet('%s/**/*.parquet', hive_partitioning = true)" % path


def check_evm(expected, units, out):
    con = duckdb.connect()
    wh = os.path.join(out, "warehouse")
    parse = os.path.join(out, "parse", "common")
    xfer = os.path.join(out, "transfer")
    by_day = {e["day"]: e for e in expected["days"]}
    con.execute("SET TimeZone = 'UTC'")
    con.execute("CREATE VIEW gas AS SELECT * FROM read_parquet('%s/*/*.parquet')"
                % expected["gas_dir"])
    problems = []
    new_tokens = 0
    for u in units:
        p = []
        problems.append(p)
        if not u.get("ok"):
            p.append("did not complete: %s" % u.get("error"))
            continue
        exp = by_day[u["day"]]
        ds = u["day"]
        if u["verify_failed"]:
            p.append("verify: %s" % u["verify"])
        for table, n in exp["counts"].items():
            if table in ("tokens", "receipts"):
                continue
            got = con.execute(
                "SELECT count(*) FROM %s WHERE CAST(dt AS VARCHAR) = ?"
                % scan(os.path.join(wh, table)), [ds]).fetchone()[0]
            if got != n:
                p.append("warehouse %s: %d rows, expected %d" % (table, got, n))
        roots = con.execute(
            "SELECT count(*) FROM %s WHERE CAST(dt AS VARCHAR) = ? AND "
            "trace_address = '[]' AND transaction_hash IS NOT NULL"
            % scan(os.path.join(wh, "traces")), [ds]).fetchone()[0]
        if roots != exp["root_traces"]:
            p.append("root traces %d, expected %d" % (roots, exp["root_traces"]))
        new_tokens += len(exp["new_tokens"])

        def decoded(table, cols):
            return sorted(con.execute("SELECT %s FROM %s" % (cols, scan(
                os.path.join(parse, table, "dt=" + ds)))).fetchall())

        got = decoded("common_erc20_evt_Transfer",
                      "transaction_hash, lower(\"from\"), lower(\"to\"), "
                      "CAST(value AS VARCHAR)")
        if got != sorted(exp["transfers"]):
            p.append("decoded Transfer: %d rows differ from the %d expected"
                     % (len(got), len(exp["transfers"])))
        got = decoded("common_erc20_call_transfer",
                      "transaction_hash, lower(\"to\"), CAST(value AS VARCHAR)")
        if got != sorted(exp["calls"]):
            p.append("decoded transfer calls: %d rows differ from the %d "
                     "expected" % (len(got), len(exp["calls"])))
        want = sorted(tuple(r) for r in
                      con.execute(u["gas_oracle_sql"]).fetchall())
        got = sorted(tuple(q) for q in u["gas_quantiles"])
        if got != want:
            p.append("gas-price quantiles %s, oracle %s" % (got, want))
        for table in u["transferred"]:
            name = table.replace(".", "_")
            shipped = con.execute("SELECT count(*) FROM %s" % scan(
                os.path.join(xfer, "dt=" + ds, name))).fetchone()[0]
            if "." in table:
                src = decoded(name, "count(*)")[0][0]
            else:
                src = exp["counts"][table]
            if shipped != src:
                p.append("transfer %s: %d rows, source has %d"
                         % (table, shipped, src))
    if units and all(u.get("ok") for u in units):
        got = con.execute("SELECT count(*) FROM %s"
                          % scan(os.path.join(wh, "tokens"))).fetchone()[0]
        if got != new_tokens:
            problems[-1].append("tokens: %d rows, expected %d"
                                % (got, new_tokens))
    return problems


def _jaccard_pairs(texts, n, threshold):
    frac = Fraction(threshold).limit_denominator(1000)
    sh = {i: {tuple(w[k:k + n]) for k in range(len(w) - n + 1)}
          for i, w in ((i, t.split(" ")) for i, t in texts.items())}
    ids = sorted(sh)
    pairs = set()
    for x, a in enumerate(ids):
        for b in ids[x + 1:]:
            inter = len(sh[a] & sh[b])
            if inter and inter * frac.denominator >= \
                    frac.numerator * (len(sh[a]) + len(sh[b]) - inter):
                pairs.add((a, b))
    return pairs


def _components(pairs):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def _kcore(edges, k):
    adj = {}
    for a, b in edges:
        if a != b:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
    changed = True
    while changed:
        changed = False
        for v in [v for v, ns in adj.items() if len(ns) < k]:
            for u in adj.pop(v):
                if u in adj:
                    adj[u].discard(v)
            changed = True
    return {v: len(ns) for v, ns in adj.items()}


def check_curation(expected, units, out):
    con = duckdb.connect()
    by_shard = {e["shard"]: e for e in expected["shards"]}
    problems = []
    for u in units:
        p = []
        problems.append(p)
        if not u.get("ok"):
            p.append("did not complete: %s" % u.get("error"))
            continue
        exp = by_shard[u["shard"]]
        P = u["params"]
        d = u["out"]

        def rows(stage_name, cols):
            return con.execute("SELECT %s FROM %s" % (
                cols, scan(os.path.join(d, stage_name)))).fetchall()

        texts = {int(i): t for i, t in exp["texts"].items()}
        keep = {i for i, t in texts.items()
                if len(t.split(" ")) >= P["min_words"]}
        got = {i for i, k in rows("quality", "doc_id, keep") if k}
        if got != keep:
            p.append("quality: kept %d docs, expected %d" % (len(got), len(keep)))
        kept = {i: texts[i] for i in keep}
        pairs = _jaccard_pairs(kept, P["shingle"], P["min_jaccard"])
        got = set(rows("jaccard", "a_id, b_id"))
        if got != pairs:
            p.append("jaccard: %d pairs, expected %d" % (len(got), len(pairs)))
        comp = _components(pairs)
        got = dict(rows("components", "id, comp"))
        if got != comp:
            p.append("components: %d labels differ" % sum(
                1 for k in set(got) | set(comp) if got.get(k) != comp.get(k)))
        cand = rows("minhash", "a_id, b_id")
        if any(a >= b or a not in keep or b not in keep for a, b in cand):
            p.append("minhash: candidate pair outside a < b over kept docs")
        merges = u["bpe_merges"]
        counts = [m["cnt"] for m in merges]
        if not (0 < len(merges) <= P["bpe_merges"] and min(counts) >= 2 and
                counts == sorted(counts, reverse=True)):
            p.append("bpe: merges not a non-increasing list of <= %d "
                     "counts >= 2: %s" % (P["bpe_merges"], counts))
        core = _kcore(exp["edges"], P["core_k"])
        got = dict(rows("kcore", "node, core_degree"))
        if got != core:
            p.append("kcore: %d members, expected %d" % (len(got), len(core)))
        trust = dict(rows("trustrank", "node, rank"))
        if not trust or min(trust.values()) < 0 or \
                any(trust.get(v, 0) <= 0 for v in core):
            p.append("trustrank: a core seed holds no mass or a rank is "
                     "negative")
        sims = rows("neardup", "a_id, b_id, sim")
        found = {(min(a, b), max(a, b)) for a, b, _ in sims}
        if any(s < P["near_dup_cosine"] for _, _, s in sims):
            p.append("neardup: a reported pair is below the threshold")
        missed = [e for e in exp["exact_vec_dups"]
                  if (min(e), max(e)) not in found]
        if missed:
            p.append("neardup: %d identical vectors not reported" % len(missed))
    return problems


def check(workload, expected, units, out):
    if workload.startswith("evm_"):
        return check_evm(expected, units, out)
    return check_curation(expected, units, out)
