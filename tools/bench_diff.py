#!/usr/bin/env python3
"""Compare two Bench JSON outputs (raw line or driver BENCH_r{N}.json).

Usage: python3 tools/bench_diff.py OLD NEW [--threshold 1.3]

Prints per-query ratios for queries slower than threshold x, new/removed
queries, and the total delta. Exit 1 if any regression exceeds the
threshold, or if NEW reports failed queries (`n_failed` > 0; they are
named) — a failed query has no time, so it would otherwise just read
as REMOVED. Artifacts older than the `n_failed` key read as 0 failures.
(Useful as a pre-commit perf gate.)

Which OLD to diff against (VERDICT r10 #3): use BENCH_floor_local.json —
the best DEMONSTRATED full run, updated only when a run beats it —
as the regression denominator. BENCH_full_local.json is overwritten by
every graft.Bench run (it is "latest", and the driver's elevated runs
land there too), so diffing against it under-reports regressions
whenever the previous run was noise-elevated.

Canary normalization (VERDICT r12 #1b): the floor artifact is from a
machine window no later run reproduces, so EVERY query reads "slower"
under whole-machine elevation and a real single-query regression hides
inside the global band. CANARY_QUERIES is a fixed set of byte-stable
queries spanning families (pinned equal to graft.Canary.Queries by
CanarySpec); their median new/old ratio estimates the run's elevation
factor, each query's ratio is divided by it, and the regression gate
applies to the NORMALIZED ratio. Raw ratios are still printed. Pass
--no-canary to gate on raw ratios (the pre-r13 behavior).

Canary-factor gate (r13 ADVICE, medium): the canaries share the same
driver/session/shuffle infrastructure as every other query, so a real
FRAMEWORK-WIDE regression (config/codec change slowing everything
~uniformly) elevates the canaries too and normalization would absorb
it silently. Therefore the factor ITSELF is gated: factor >= threshold
prints a CANARY-FACTOR REGRESSION line and exits 1 — a uniform
slowdown cannot be classified as machine elevation without a human
deciding so (re-run in a quiet window, or sign off explicitly with
--no-canary-gate after checking the isolated graft.Canary line).

Chronic flags (VERDICT r13 #1b): each regression line is annotated
with how many consecutive PRIOR driver artifacts (BENCH_r*.json next
to OLD, newest backwards) also raw-flagged that query against the same
floor entry, so a repeat offender is visually distinct from a fresh
flag. (Prior artifacts only persist their slowest-20 tail, and their
canary factors are unrecoverable, so the history count uses RAW
ratios — an annotation, not a gate.)

Floor-entry re-arm rule (VERDICT r13 #1a): when a query flags in >= 2
consecutive rounds, its floor ENTRY is stale-suspect — re-measure it
with the isolated min-of-4 protocol (SPARK_GRAFT_CANARY_QUERIES=<name>
sbt "runMain graft.Canary") and replace the single entry in
BENCH_floor_local.json, recording provenance (old value, new value,
measurement source, date) in BENCH_floor_provenance.json. Existing
entries stay byte-identical otherwise.
"""
import glob, json, os, re, sys

# Byte-stable canary set — keep in sync with graft.Canary.Queries
# (src/main/scala/graft/Canary.scala); CanarySpec pins the two lists.
CANARY_QUERIES = [
    # r14 rotation: dedup_jaccard_hist was rewritten (decomposed verify
    # trunk) and left the set; dedup_editdist (byte-unchanged since r10)
    # replaced it per the replace-don't-mask rule.
    "q1_pricing_summary", "q4_star_join", "q40_time_range_frame",
    "q45_lateral", "dedup_minhash_lsh", "dedup_editdist",
    "sim_triangles", "ta_tfidf", "dq_outlier_mad", "mm_decode",
]


def load(path):
    text = open(path).read()
    try:
        d = json.loads(text)
    except json.JSONDecodeError:
        d = None
    if d is not None and "queries" in d:
        return d
    if d is not None and "tail" in d:  # driver BENCH_r{N}.json wrapper
        m = re.search(r'\{"metric".*\}', d["tail"])
        if m:
            return json.loads(m.group(0))
    m = re.search(r'\{"metric".*\}', text)
    if m:
        return json.loads(m.group(0))
    # Fallback: a driver tail truncated mid-line (the leading
    # {"metric":"total",... got cut). Scrape whatever "name":secs pairs
    # survive and synthesize a partial record; per-query diffs still
    # work, the total becomes the partial sum.
    source = d["tail"] if d is not None and "tail" in d else text
    pairs = re.findall(r'"([a-z0-9_]+)":([0-9]+\.[0-9]+)', source)
    queries = {k: float(v) for k, v in pairs if k not in ("value", "sf")}
    if queries:
        # round-4+ format puts the suite total LAST so it survives
        # front-truncation; prefer it over the partial sum when present
        mv = re.findall(r'"value":([0-9]+\.[0-9]+)\}', source)
        total = float(mv[-1]) if mv else sum(queries.values())
        rec = {"value": total, "queries": queries, "partial": True}
        mf = re.findall(r'"n_failed":([0-9]+),"failed":\[([^\]]*)\]', source)
        if mf:
            rec["n_failed"] = int(mf[-1][0])
            rec["failed"] = re.findall(r'"([^"]+)"', mf[-1][1])
        return rec
    raise SystemExit(f"no bench JSON found in {path}")


def canary_factor(oq, nq):
    """Median new/old ratio over the canary set — the run's estimated
    whole-machine elevation. Requires >=5 canaries present in both files
    (else returns 1.0 and a warning: no normalization)."""
    ratios = sorted(nq[c] / oq[c] for c in CANARY_QUERIES
                    if c in oq and c in nq and oq[c] > 0)
    if len(ratios) < 5:
        print(f"WARNING: only {len(ratios)} canaries present in both "
              "files; gating on RAW ratios")
        return 1.0
    mid = len(ratios) // 2
    return (ratios[mid] if len(ratios) % 2 == 1
            else (ratios[mid - 1] + ratios[mid]) / 2)


_ARTIFACT_CACHE = {}


def _round_artifacts(near):
    """Parsed (path, queries) for every BENCH_r*.json beside `near`,
    oldest-first, loaded once per process (a run with k flagged queries
    previously re-globbed and re-parsed all artifacts k times).
    Zero-padded round numbers make the lexicographic sort chronological.
    """
    key = os.path.dirname(os.path.abspath(near)) or "."
    if key not in _ARTIFACT_CACHE:
        out = []
        for p in sorted(glob.glob(os.path.join(key, "BENCH_r[0-9]*.json"))):
            try:
                out.append((p, load(p)["queries"]))
            except SystemExit:
                out.append((p, None))  # unparseable tail: chain-breaker
        _ARTIFACT_CACHE[key] = out
    return _ARTIFACT_CACHE[key]


def prior_raw_flag_rounds(old_q, name, threshold, near):
    """Consecutive prior driver artifacts (BENCH_r*.json in `near`'s
    directory, newest backwards) whose tail contains `name` RAW-flagged
    against the same floor entry. Artifacts whose slowest-20 tail
    simply omits the query break the chain (absence of evidence — the
    count is a lower bound, which is the honest direction for an
    annotation)."""
    if name not in old_q or old_q[name] <= 0:
        return []
    rounds = []
    for p, q in reversed(_round_artifacts(near)):
        if q is None or name not in q or q[name] / old_q[name] < threshold:
            break
        rounds.append(re.sub(r"^BENCH_", "", os.path.basename(p)).split(".")[0])
    return rounds


def main(old_path, new_path, threshold=1.3, canary=True, canary_gate=True):
    old, new = load(old_path), load(new_path)
    oq, nq = old["queries"], new["queries"]
    factor = canary_factor(oq, nq) if canary else 1.0
    factor_regressed = False
    if canary:
        print(f"canary elevation factor: {factor:.3f} "
              f"(median new/old over {sum(1 for c in CANARY_QUERIES if c in oq and c in nq)} canaries)")
        if canary_gate and factor >= threshold:
            print(f"CANARY-FACTOR REGRESSION: elevation {factor:.3f} >= "
                  f"{threshold} — a ~uniform slowdown this large is NOT "
                  "automatically machine elevation; verify with an isolated "
                  "graft.Canary run before trusting the normalized gate")
            factor_regressed = True
    regressions = []
    for name in sorted(set(oq) & set(nq)):
        ratio = nq[name] / oq[name] if oq[name] > 0 else float("inf")
        norm = ratio / factor
        if norm >= threshold and nq[name] - oq[name] * factor > 0.2:  # ignore sub-noise
            regressions.append((norm, ratio, name))
    for norm, ratio, name in sorted(regressions, reverse=True):
        prior = prior_raw_flag_rounds(oq, name, threshold, old_path)
        chronic = (f"  [CHRONIC: raw-flagged in {len(prior)} prior "
                   f"consecutive driver artifacts: {','.join(prior)} — "
                   "re-arm rule applies, see module docstring]"
                   if len(prior) >= 2 else
                   f"  [also raw-flagged in {prior[0]}]" if prior else "")
        print(f"REGRESSION {name:28s} {oq[name]:6.2f}s -> {nq[name]:6.2f}s  "
              f"({ratio:.2f}x raw, {norm:.2f}x canary-normalized){chronic}")
    for name in sorted(set(nq) - set(oq)):
        print(f"NEW        {name:28s} {nq[name]:6.2f}s")
    for name in sorted(set(oq) - set(nq)):
        print(f"REMOVED    {name:28s} (was {oq[name]:.2f}s)")
    print(f"total: {old['value']:.1f}s -> {new['value']:.1f}s "
          f"({len(oq)} -> {len(nq)} queries)")
    n_failed, failed = new.get("n_failed", 0), new.get("failed", [])
    if n_failed:
        more = (f" (+{n_failed - len(failed)} unnamed in this artifact)"
                if n_failed > len(failed) else "")
        print(f"FAILED {n_failed} queries in NEW: {', '.join(failed)}{more}")
    return 1 if regressions or factor_regressed or n_failed else 0


if __name__ == "__main__":
    thr = 1.3
    args, skip = [], False
    for a in sys.argv[1:]:
        if skip:  # the value of a space-separated --threshold
            thr = float(a)
            skip = False
        elif a == "--threshold":
            skip = True
        elif a.startswith("--threshold="):
            thr = float(a.split("=", 1)[1])
        elif not a.startswith("--"):
            args.append(a)
    sys.exit(main(args[0], args[1], thr,
                  canary="--no-canary" not in sys.argv,
                  canary_gate="--no-canary-gate" not in sys.argv))
