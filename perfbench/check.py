"""The benchmark's checker and statistics: pure functions over what the
harness JVM recorded and what `gen.py` generated, so they can be tested
without Spark (see test_check.py)."""
import math

# ----------------------------------------------------------------- statistics

PERCENTILE_LADDER = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)


def percentile(values, p):
    """Nearest-rank percentile of `values` (0 < p <= 100)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("no samples")
    return xs[max(0, math.ceil(p / 100.0 * len(xs)) - 1)]


def tail_percentile(values):
    """The highest percentile of the ladder that has at least ten samples
    beyond it, as (p, value); None with fewer than 20 samples."""
    n = len(values)
    best = None
    for p in PERCENTILE_LADDER:
        if n * (1.0 - p / 100.0) >= 10.0 - 1e-9:
            best = p
    return None if best is None else (best, percentile(values, best))


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total = 0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# ---------------------------------------------------------------- CDC checker

def expected_latest(sets, set_ids, pk, version, value_cols):
    """Latest state of the rows in change sets `set_ids`: key -> (version,
    values), the row with the highest version winning per key."""
    best = {}
    for i in set_ids:
        cols = sets[i]
        keys = list(zip(*(cols[c] for c in pk)))
        vers = cols[version]
        vals = list(zip(*(cols[c] for c in value_cols)))
        for k, v, x in zip(keys, vers, vals):
            cur = best.get(k)
            if cur is None or v > cur[0]:
                best[k] = (v, x)
    return best


def delivered_rows(bodies, pk, version, value_cols, allowed):
    """Parse POST bodies. Returns (key -> (version, values), problems)."""
    got, problems = {}, []
    allowed_lower = sorted(c.lower() for c in allowed)
    for body in bodies:
        for rec in body:
            item = rec.get("Item", {})
            cols = sorted(c.lower() for c in item)
            if cols != allowed_lower:
                problems.append(f"columns {sorted(item)} are not the allowlist {sorted(allowed)}")
                return got, problems
            k = tuple(item[c] for c in pk)
            if k in got:
                problems.append(f"key {k} delivered twice in one range")
                return got, problems
            got[k] = (item[version], tuple(item[c] for c in value_cols))
    return got, problems


def check_cdc(ops, posts, sets, spec):
    """Check every operation of a CDC run.

    ops:   the harness's operation records (commits, drain attempts).
    posts: {seq: (status, parsed body or None)} as the endpoint received them.
    sets:  {set index: {column: list of values}} as generated.
    spec:  pk, version, value_cols, allowed (the expected Item columns) and
           base_mark (the feed mark when the window starts).

    Returns (failed op ids with reasons, global problems, counts)."""
    pk, version, value_cols = spec["pk"], spec["version"], spec["value_cols"]
    version_to_set = {c["version"]: c["set"] for op in ops for c in op["commits"]}
    failed = {}
    mark = spec["base_mark"]
    latest = mark
    redeliveries = retry = notify = faults = 0
    for op in ops:
        reasons = []
        if op["error"]:
            reasons.append(op["error"])
        if op["commits"]:
            latest = max(c["version"] for c in op["commits"])
        attempts = op["attempts"]
        for i, a in enumerate(attempts):
            statuses = [posts[s][0] for s in range(a["seq_lo"] + 1, a["seq_hi"] + 1)
                        if s in posts]
            injected = sum(1 for s in statuses if s == 503)
            faults += injected
            if (a["from"], a["to"]) != (mark, latest):
                reasons.append(f"attempt {i} drained ({a['from']}, {a['to']}], "
                               f"expected ({mark}, {latest}]")
            if a["disposition"] == "Delivered":
                if injected:
                    reasons.append(f"attempt {i} delivered despite {injected} faults")
                bodies = [posts[s][1] for s in range(a["seq_lo"] + 1, a["seq_hi"] + 1)
                          if s in posts and posts[s][0] // 100 == 2]
                want = expected_latest(sets, [version_to_set[v] for v in
                                              range(a["from"] + 1, a["to"] + 1)
                                              if v in version_to_set],
                                       pk, version, value_cols)
                got, problems = delivered_rows(bodies, pk, version, value_cols,
                                               spec["allowed"])
                reasons += problems
                if not problems and got != want:
                    missing = len(want.keys() - got.keys())
                    extra = len(got.keys() - want.keys())
                    stale = sum(1 for k in want.keys() & got.keys() if got[k] != want[k])
                    reasons.append(f"range ({a['from']}, {a['to']}]: {missing} rows missing, "
                                   f"{extra} unexpected, {stale} stale or altered")
                mark = a["to"]
            else:
                if a["disposition"] == "RetryScheduled":
                    retry += 1
                elif a["disposition"] == "NotifyRequired":
                    notify += 1
                if a["disposition"] != "RetryScheduled" or not injected:
                    reasons.append(f"attempt {i}: unexpected disposition "
                                   f"{a['disposition']} with {injected} injected faults")
                if a["hwm_after"] != mark:
                    reasons.append(f"attempt {i}: mark moved to {a['hwm_after']} after "
                                   f"a failed delivery (was {mark})")
                if i + 1 == len(attempts):
                    reasons.append("range never delivered")
                else:
                    redeliveries += 1
        if not attempts:
            reasons.append("no drain attempt")
        if reasons:
            failed[op["op"]] = reasons
    problems = []
    if redeliveries != faults:
        problems.append(f"{redeliveries} redeliveries for {faults} injected faults")
    counts = {"redeliveries": redeliveries, "retry_scheduled": retry,
              "notify_required": notify, "faults": faults}
    return failed, problems, counts


# ------------------------------------------------------- query-suite checker

def check_queries(records, expected_rows):
    """Failed query runs: a query that threw, has no oracle, or whose row
    count differs from the oracle's. Returns {op id: reason}."""
    failed = {}
    for r in records:
        want = expected_rows.get(r["name"])
        if r["error"]:
            failed[r["op"]] = f"{r['name']}: {r['error']}"
        elif want is None:
            failed[r["op"]] = f"{r['name']}: no oracle row count"
        elif r["rows"] != want:
            failed[r["op"]] = f"{r['name']}: {r['rows']} rows, oracle has {want}"
    return failed
