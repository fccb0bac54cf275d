"""Rewrite BASELINE.md's recorded-timings table from bench.py JSON lines.

Usage: python tools/record_baseline.py BENCH_SF01.json [--sf1 BENCH_SF1.json]
                                       [--round N] [--passes N] [--sf1-passes N]

Reads the one-line JSON bench.py prints (run it with
SPARK_GRAFT_BENCH_PASSES=3 on an idle box for a recording-quality run),
and replaces everything from the '## Recorded engine timings' heading to
the end of BASELINE.md with a fresh table plus the measurement
provenance, so later rounds can compute per-query regression ratios
against a complete, current base.

With --sf1 (a bench run at the 10x fact-replicated `.scale/sf1` dir built
by the since-deleted `tools/scale_probe.py --build-only`), the table gains sf1 and
sf1/sf0.1-ratio columns: sub-second sf0.1 timings sit inside a ±50% noise
band, so the 10x run is what makes per-query scaling exponents and
round-over-round ratio judgments meaningful.
"""

from __future__ import annotations

import argparse
import json
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MARKER = "## Recorded engine timings"


def _load(path: str) -> dict:
    with open(path) as fh:
        payload = json.loads(fh.read().strip())
    # A char-capped bench payload carries only the top-k queries (and
    # says so in "note"); recording its sum as the round total would
    # silently publish a truncated subset as the registry total. Only
    # recording-quality runs (SPARK_GRAFT_BENCH_MAX_CHARS=0) may feed
    # the committed baseline.
    assert "note" not in payload, (
        f"{path} is a char-capped bench payload ({payload['note']!r}) — "
        f"re-run bench.py with SPARK_GRAFT_BENCH_MAX_CHARS=0 for a "
        f"recording-quality line")
    return payload


def _prior_baseline(sf, before_round: int) -> dict[str, float]:
    """Per-query table from the newest committed raw bench JSON of an
    EARLIER round at the same sf, isolated-overlay applied — the
    carry-forward reference for `_policy_queries`."""
    import glob
    import re

    best_round, table = -1, {}
    for f in glob.glob(os.path.join(REPO, ".baseline_r*_bench*.json")):
        m = re.search(r"_r(\d+)_", os.path.basename(f))
        if not m or not (best_round < int(m.group(1)) < before_round):
            continue
        try:
            with open(f) as fh:
                doc = json.load(fh)
        except (OSError, ValueError):
            continue
        if str(doc.get("sf")) != str(sf):
            continue
        queries = dict(doc.get("queries", {}))
        for n, rec in doc.get("isolated_remeasure", {}).items():
            if n in queries and isinstance(rec, dict) \
                    and isinstance(rec.get("isolated"), (int, float)):
                queries[n] = min(queries[n], rec["isolated"])
        best_round, table = int(m.group(1)), queries
    return table


def _policy_queries(payload: dict,
                    prior: dict[str, float] | None = None
                    ) -> tuple[dict, list[str], list[str]]:
    """Anti-ratchet: a row the recording session itself flagged as
    drift-elevated records its ISOLATED re-measure (min with the session
    number), never the drifted session value — otherwise the committed
    baseline normalizes that session's environment drift and every later
    ratio under-reports creep (round-12 verdict, 'what's wrong' #1:
    dedup_state_compaction recorded 4.011 where its own isolated
    re-measure said 3.61).

    Carry-forward guard (round-13 verdict #3): a row reading >1.5× its
    PRIOR committed baseline with NO isolated evidence in this payload
    (possible only via the re-measure error path now that bench.py's
    flag rule has a pure-ratio arm) keeps the prior number — a 1.5×
    step must be backed by an isolated measurement to enter the
    baseline. Returns (table, isolated-corrected names, carried names)
    so the provenance text can cite both."""
    q = dict(payload["queries"])
    corrected = []
    iso_rows = payload.get("isolated_remeasure", {})
    for n, rec in iso_rows.items():
        iso = rec.get("isolated") if isinstance(rec, dict) else None
        if n in q and isinstance(iso, (int, float)) and iso < q[n]:
            q[n] = iso
            corrected.append(n)
    carried = []
    for n, prev in (prior or {}).items():
        if n in q and n not in iso_rows and prev > 0 and q[n] > 1.5 * prev:
            q[n] = min(q[n], prev)
            carried.append(n)
    return q, sorted(corrected), sorted(carried)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("bench_json")
    ap.add_argument("--sf1", default=None,
                    help="bench.py JSON recorded at the 10x .scale/sf1 dir")
    ap.add_argument("--round", default="5")
    ap.add_argument("--passes", default="3")
    ap.add_argument("--sf1-passes", default="2")
    args = ap.parse_args()

    payload = _load(args.bench_json)
    q, corrected, carried = _policy_queries(
        payload, _prior_baseline(payload["sf"], int(args.round)))
    q = dict(sorted(q.items()))
    total = round(sum(q.values()), 3)
    names = list(q)

    q1 = corrected1 = None
    carried1: list[str] = []
    if args.sf1:
        p1 = _load(args.sf1)
        q1, corrected1, carried1 = _policy_queries(
            p1, _prior_baseline(p1["sf"], int(args.round)))

    lines = [
        f"{MARKER} (round-{args.round} baseline)",
        "",
        "Per-query wall seconds from `bench.py` (local[32], "
        f"sf{payload['sf']}, min of {args.passes} timed passes after "
        "plan+page-cache warmup; noop sink drains every output column; "
        "idle box). Whole-session totals on this box drift ±4% "
        "run-to-run and individual sub-second queries ±50% — judge "
        "per-query ratios only with that band in mind. These rows exist "
        "so later rounds can compute real per-query regression ratios — "
        "the reference publishes no numbers.",
        "",
        f"Total wall time: **{total} s** across {len(names)} queries.",
    ]
    if corrected:
        lines += [
            "",
            "Anti-ratchet policy: rows the recording session flagged as "
            ">30%-over-baseline record their ISOLATED min-of-3 re-measure, "
            "not the drifted in-session value (both numbers live in the "
            "committed raw JSON's `isolated_remeasure`). Corrected this "
            f"recording: {', '.join(f'`{n}`' for n in corrected)}.",
        ]
    if carried or carried1:
        lines += [
            "",
            "Carry-forward guard: rows reading >1.5× their prior "
            "committed baseline WITHOUT isolated evidence in this "
            "payload (re-measure error path) keep the prior number"
            + (f" — sf0.1: {', '.join(f'`{n}`' for n in carried)}"
               if carried else "")
            + (f" — sf1: {', '.join(f'`{n}`' for n in carried1)}"
               if carried1 else "") + ".",
        ]

    if q1 is not None:
        t1 = round(sum(q1.values()), 3)
        lines += [
            "",
            f"The sf1 column is the same bench at `.scale/sf1` — sf0.1 "
            f"with the FACT tables (orders, lineitem, events, documents, "
            f"embeddings) replicated 10× by `tools/scale_probe.py "
            f"--build-only` (fresh keys / shuffled text / rotated vectors "
            f"so candidate volumes grow like a real corpus, not like "
            f"10-cliques; dimension tables stay fixed, as a real workload "
            f"scales) — min of {getattr(args, 'sf1_passes')} passes. "
            f"sf1 total: **{t1} s**. Variance notes: sf1 queries run "
            f"~4-30× longer, so their relative noise is well under the "
            f"sf0.1 sub-second ±50% band — the ratio column is the "
            f"trustworthy per-query 10× scaling signal. Read ratios "
            f"against the query's answer shape: a fixed-size answer "
            f"(grouped report) should scale sublinearly (<10×); "
            f"pair/explode answers that legitimately grow ~10× may "
            f"approach linear; dimension-only queries sit near 1×. Known "
            f"by-construction outliers: the all-pairs verify operators "
            f"(`embedding_near_dup`, `edit_distance_verify`, "
            f"`semantic_dedup`) whose within-block candidate sets grow "
            f"quadratically by design — their scale paths are the "
            f"banded/LSH/IVF variants, which measure 1-3× here. "
            f"(`simhash_pairs` was this list's worst case through round 5 "
            f"— 86.6× from word-shuffled replicas sharing token multisets "
            f"— until round 6's `max_bucket` hot-bucket cap bounded it; "
            f"its capped output is a documented LOWER bound on this "
            f"saturated probe corpus, with drops observed in "
            f"`dedup.last_cap_drops()` — see SCALE.md §10e. "
            f"`prefix_jaccard_pairs` is superlinear for the same "
            f"flat-distribution reason — no rare shingles for prefixes "
            f"to exploit — with the MinHash path as the saturated-corpus "
            f"fallback; see SCALE.md §10f.) The "
            f"raw JSONs are committed as `.baseline_r{args.round}_bench"
            f".json` / `.baseline_r{args.round}_bench_sf1.json`."
            + (f" sf1 rows isolated-corrected per the anti-ratchet "
               f"policy: {', '.join(f'`{n}`' for n in corrected1)}."
               if corrected1 else ""),
            "",
            "| query | sf0.1 s | sf1 s | ratio |",
            "|---|---|---|---|",
        ]
        # union of both key sets: a query present only in the sf1 JSON
        # still gets its sf1 number (no silent drop), and a sf0.1 time
        # that rounds to 0.000 keeps its sf1 cell — only the ratio is
        # dashed (undefined against a zero/missing denominator)
        for n in sorted(set(names) | set(q1)):
            s01 = q.get(n)
            s1 = q1.get(n)
            s01_cell = s01 if s01 is not None else "—"
            s1_cell = s1 if s1 is not None else "—"
            ratio = (round(s1 / s01, 2)
                     if s1 is not None and s01 else "—")
            lines.append(f"| {n} | {s01_cell} | {s1_cell} | {ratio} |")
        lines.append("")
    else:
        half = (len(names) + 1) // 2
        lines += [
            "",
            "| query | sec | query | sec |",
            "|---|---|---|---|",
        ]
        for i in range(half):
            left = f"{names[i]} | {q[names[i]]}"
            right = (f"{names[half + i]} | {q[names[half + i]]}"
                     if half + i < len(names) else " | ")
            lines.append(f"| {left} | {right} |")
        lines.append("")

    path = os.path.join(REPO, "BASELINE.md")
    with open(path) as fh:
        head = fh.read().split(MARKER, 1)[0].rstrip() + "\n\n"
    with open(path, "w") as fh:
        fh.write(head + "\n".join(lines))
    print(f"recorded {len(names)} queries, total {total} s -> {path}"
          + (f" (+ sf1 column, {len(q1)} queries)" if q1 else ""))


if __name__ == "__main__":
    main()
