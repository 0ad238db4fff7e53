"""Pure metric arithmetic over a harness run log (no I/O, no Spark)."""
import math
from collections import defaultdict


def percentile(values, p):
    """The p-th percentile (0-100) by linear interpolation between the
    closest ranks, and the sample count it rests on."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of an empty sample")
    k = (len(xs) - 1) * p / 100.0
    lo = math.floor(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo), len(xs)


def fingerprint(record):
    """The dedup key the pipeline parses out of `w_<seq>_r<record>.txt`."""
    return f"{record:08d}"


def _rows_by_fp(batches):
    rows = defaultdict(list)
    for b in sorted(batches, key=lambda b: (b.get("query", 0), b["batch_id"])):
        for r in b["rows"]:
            rows[r["fp"]].append((b, r))
    return rows


def _seqs_by_fp(deliveries):
    seqs = defaultdict(list)
    for d in sorted(deliveries, key=lambda d: d["seq"]):
        seqs[fingerprint(d["record"])].append(d["seq"])
    return seqs


def map_deliveries(deliveries, batches):
    """Assigns every generator delivery to the sink batch that emitted it.

    `deliveries`: dicts with `seq` and `record`. `batches`: dicts with
    `batch_id`, `emit_ms`, `rows` (FpUpdate dicts: fp, canonical_id,
    is_new, batch_docs, total_docs) and, when several queries ran, the
    `query` whose batch numbering `batch_id` follows. A record's rows, in
    (query, batch) order,
    carry `batch_docs` of its deliveries each. The first row's batch holds
    the canonical delivery (the smallest id that batch saw for the
    record); the rest go out in seq order. This is exact for the
    generator's layout, where a record has at most two deliveries, also
    when the retry reaches the sink before the original. Returns
    ({seq: emit_ms}, [problem, ...]); a delivery never emitted, or an
    emitted row no delivery explains, is a problem."""
    seqs_by_fp = _seqs_by_fp(deliveries)
    emit, problems = {}, []
    for fp, rows in _rows_by_fp(batches).items():
        left = list(seqs_by_fp.get(fp, []))
        canonical = rows[0][1]["canonical_id"]
        if canonical in left:
            left.remove(canonical)
            left.insert(0, canonical)
        for b, r in rows:
            if r["batch_docs"] > len(left):
                problems.append(f"batch {b['batch_id']} emitted {r['batch_docs']} deliveries "
                                f"of record {fp}, {len(left)} left unemitted")
                break
            for s in left[:r["batch_docs"]]:
                emit[s] = b["emit_ms"]
            left = left[r["batch_docs"]:]
    missing = [s for seqs in seqs_by_fp.values() for s in seqs if s not in emit]
    if missing:
        problems.append(f"{len(missing)} deliveries never emitted, first seq {min(missing)}")
    return emit, problems


def election_problems(deliveries, batches, strict):
    """Checks each record's streaming dedup verdict. Always: one row per
    batch the record appeared in, `is_new` only on the first, running
    totals that add up, one canonical id, and a total equal to the number
    of deliveries. The canonical id must be the batch keep-min election
    (the record's smallest seq) where `strict(fp)` holds, i.e. where its
    files were all on disk before the stream listed them; elsewhere the
    stream keeps the first delivery it saw, and a canonical id other than
    the smallest seq is an order inversion: the source emitted a later
    file before an earlier one. Returns ({fp: mismatch}, [inverted fp])."""
    seqs_by_fp = _seqs_by_fp(deliveries)
    rows_by_fp = _rows_by_fp(batches)
    problems, inversions = {}, []
    for fp in sorted(set(seqs_by_fp) | set(rows_by_fp)):
        seqs, rows = seqs_by_fp.get(fp, []), [r for _, r in rows_by_fp.get(fp, [])]
        if not seqs or not rows:
            problems[fp] = f"record {fp}: {len(seqs)} deliveries, {len(rows)} sink rows"
            continue
        canonical = rows[0]["canonical_id"]
        consistent = (
            [r["is_new"] for r in rows] == [True] + [False] * (len(rows) - 1)
            and [r["total_docs"] for r in rows]
            == [sum(r["batch_docs"] for r in rows[:i + 1]) for i in range(len(rows))]
            and {r["canonical_id"] for r in rows} == {canonical}
            and canonical in seqs
            and rows[-1]["total_docs"] == len(seqs))
        if not consistent:
            problems[fp] = f"record {fp}: verdict rows {rows} do not fit deliveries {seqs}"
        elif canonical != min(seqs):
            if strict(fp):
                problems[fp] = (f"record {fp}: canonical {canonical}, "
                                f"keep-min election says {min(seqs)}")
            else:
                inversions.append(fp)
    return problems, inversions


def self_times(spans):
    """Self time of each span: its duration minus the part of its interval
    covered by its direct children (overlapping children count once,
    parts outside the parent are ignored). `spans`: dicts with id,
    parent, startNs, endNs. Returns {id: self_ns}."""
    children = defaultdict(list)
    for s in spans:
        children[s["parent"]].append(s)
    out = {}
    for s in spans:
        lo, hi = s["startNs"], s["endNs"]
        parts = sorted((max(c["startNs"], lo), min(c["endNs"], hi))
                       for c in children.get(s["id"], []))
        covered, cur_lo, cur_hi = 0, None, None
        for a, b in parts:
            if b <= a:
                continue
            if cur_hi is None or a > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = a, b
            else:
                cur_hi = max(cur_hi, b)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = (hi - lo) - covered
    return out


def adopt(spans, orphan, host):
    """Gives each root span that `orphan(span)` selects the innermost span
    that `host(span)` selects and whose interval holds the orphan's start
    as parent, with its group. Used for work the harness cannot tag as it
    starts (Spark jobs and source calls on the streaming engine's thread),
    placed by time into the trigger phase that ran it. Returns `spans`."""
    hosts = sorted((s for s in spans if host(s)), key=lambda s: s["startNs"])
    for s in spans:
        if s["parent"] != 0 or not orphan(s):
            continue
        inside = [h for h in hosts if h["startNs"] <= s["startNs"] < h["endNs"]]
        if inside:
            h = min(inside, key=lambda h: h["endNs"] - h["startNs"])
            s["parent"], s["group"] = h["id"], h["group"]
    return spans


def core_util(run_ms, wall_s, cores):
    """Share of the cores' time spent running tasks: summed task
    executorRunTime over (wall time x cores). 1 - this is the time the
    cores waited for the scheduler or the driver."""
    if wall_s <= 0 or cores <= 0:
        raise ValueError("core_util needs positive wall time and cores")
    return run_ms / (wall_s * 1000.0 * cores)
