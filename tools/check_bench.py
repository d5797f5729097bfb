#!/usr/bin/env python3
"""Machine gate for bench regressions (SCALE.md: per-query MIN is the
round-over-round comparator — median still carries host noise on the
shared box; the min of N passes is the best available proxy for the
query's true cost).

Usage:
    python3 tools/check_bench.py OLD NEW [threshold]
    python3 tools/check_bench.py --coverage [SPREAD [REGISTRY_DIR]]
    python3 tools/check_bench.py --bless [SPREAD [medmin_ratio [frac]]]
    python3 tools/check_bench.py --docs [SCALE_MD [SPREAD [tolerance]]]
    python3 tools/check_bench.py --selftest

--docs gates SCALE.md's closing-bench claim against the committed
artifact. Twice (r15, r16) the SCALE.md headline drifted stale because
the driver re-benches AFTER the round closes; the structural fix is a
pinned, hostmark-relative claim line in SCALE.md:

    closing total_min: <X> s at hostmark_1t <Y> s

--docs finds the LAST such line and compares the hostmark-relative
total (X / Y) against the artifact's (value / hostmark_1t) within
`tolerance` (default 0.05 — a post-close re-capture on a host-shifted
window moves X and Y together, so the ratio only carries min-of-N
noise; the r15/r16 staleness drifts were 7-11%, well outside). Exit 1
on missing line, missing artifact hostmark, or drift.

--coverage gates bench COMPLETENESS instead of regressions: exit 1
unless the spread artifact's query key set equals SparkEntry.queries'
registered names (parsed from the registration pattern in the source).
Exists because round 9 shipped 11 queries that were never benched at
sf0.1 — one of them timed out the driver's run and no one had seen it
coming. Run it against tools/bench_spread.json after every full bench;
a SPARK_GRAFT_BENCH_ONLY-restricted spread legitimately fails it.

OLD / NEW each accept either artifact shape:
  - tools/bench_spread.json   (Bench's side file: {"queries", "spread"})
  - BENCH_rNN.json            (harness artifact: {"parsed": {"queries"}})
For a spread file the per-query min is compared; for a harness artifact
(no spread) the median in "queries" is the fallback comparator — noisier,
so expect false positives when mixing shapes.

Exit 1 (gate fails) if any shared query regressed by more than
`threshold` (default 1.5x). New and removed queries are listed but do
not fail the gate.

OLD NEW also prints the median per-query NEW/OLD ratio beside the
hostmark ratio, and a "host shift not explained by hostmark" line when
the two disagree by more than half the gate's margin (1.25x at the
default 1.5x threshold): a window where the whole bench moved while the
single-thread hostmark moved less (bench_spread_pr6_change.json ->
bench_spread_pr7_change.json read a 1.60x median against a 1.18x
hostmark) flags queries no code change
reaches, so its REGRESSED lines need a same-window parent run before
they mean anything. Diagnostic only: the gate and the exit code do not
change.
"""
import json
import sys


def load(path):
    """-> ({query: (seconds, kind)}, sf) with kind 'min' or 'med'."""
    with open(path) as f:
        d = json.load(f)
    if "parsed" in d:  # harness artifact
        d = d["parsed"]
        if d is None:
            sys.exit(f"{path}: parsed is null (truncated artifact) — "
                     "use that round's tools/bench_spread.json instead")
    sf = d.get("sf")
    spread = d.get("spread")
    if spread:
        return {q: (v["min"], "min") for q, v in spread.items()}, sf
    # r15+ harness artifacts carry per-query MINS (metric "total_min");
    # older ones carried medians — label the comparator honestly
    kind = "min" if d.get("metric") == "total_min" else "med"
    return {q: (v, kind) for q, v in d["queries"].items() if v >= 0}, sf


import os
import re

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def registry_keys(src_path):
    """Registered query names, parsed from the uniform registration
    pattern `"name" -> ((s, dir)` — the only place that shape occurs.
    src_path may be a single file (the pre-split SparkEntry.scala) or a
    directory of registry slices (src/main/scala/graft/queries/)."""
    import glob as _glob
    paths = (sorted(_glob.glob(os.path.join(src_path, "*.scala")))
             if os.path.isdir(src_path) else [src_path])
    names = []
    for path in paths:
        with open(path) as f:
            names += re.findall(r'^\s*"([a-z0-9_]+)" -> \(\(s, dir\)',
                                f.read(), re.MULTILINE)
    if not names:
        sys.exit(f"{src_path}: no registration pattern matches — "
                 "registry parse broken, refusing to pass vacuously")
    dupes = {n for n in names if names.count(n) > 1}
    if dupes:
        sys.exit(f"{src_path}: duplicate registrations: {sorted(dupes)}")
    return set(names)


def coverage(argv):
    spread_path = argv[0] if argv else os.path.join(REPO, "tools",
                                                    "bench_spread.json")
    src_path = argv[1] if len(argv) > 1 else os.path.join(
        REPO, "src", "main", "scala", "graft", "queries")
    benched, _ = load(spread_path)
    registered = registry_keys(src_path)
    missing = sorted(registered - set(benched))
    extra = sorted(set(benched) - registered)
    for q in missing:
        print(f"UNBENCHED   {q}")
    for q in extra:
        print(f"UNREGISTERED {q}")
    print(f"{len(set(benched) & registered)}/{len(registered)} registered "
          f"queries present in {spread_path}")
    if missing or extra:
        sys.exit(1)


def bless(argv):
    """Dispersion gate for a CLOSING spread artifact (r14 lesson: the
    committed closing spread was the round's noisiest window and its
    median outliers needed after-the-fact adjudication). Exit 1 unless
    the artifact is tight enough to bless: at most `frac` (default
    0.25) of queries may show med/min > `ratio` (default 2.0). Also
    prints both totals and the per-tag production-only totals."""
    spread_path = argv[0] if argv else os.path.join(REPO, "tools",
                                                    "bench_spread.json")
    ratio = float(argv[1]) if len(argv) > 1 else 2.0
    frac = float(argv[2]) if len(argv) > 2 else 0.25
    with open(spread_path) as f:
        d = json.load(f)
    if "parsed" in d:
        d = d["parsed"]
    spread = d.get("spread")
    if not spread:
        sys.exit(f"{spread_path}: no spread object — bless needs the "
                 "side artifact, not the compact line")
    # a failed/timed-out query is ABSENT from the spread, so totals and
    # dispersion over the survivors would silently understate the round
    if d.get("failures"):
        sys.exit(f"REFUSING to bless {spread_path}: failures recorded "
                 f"({d['failures']}) — the totals below would omit their "
                 "cost entirely")
    wide = {q: v["med"] / v["min"] for q, v in spread.items()
            if v["min"] > 0 and v["med"] / v["min"] > ratio}
    for q, r in sorted(wide.items(), key=lambda x: -x[1])[:15]:
        print(f"DISPERSED {q}: med/min {r:.2f}x "
              f"({spread[q]['min']:.3f}s -> {spread[q]['med']:.3f}s)")
    totals = {}
    for key in ("min", "med"):
        totals[key] = sum(v[key] for v in spread.values())
        by_tag = {}
        for v in spread.values():
            by_tag.setdefault(v.get("tag", "untagged"), 0.0)
            by_tag[v.get("tag", "untagged")] += v[key]
        tag_s = "  ".join(f"{t}={x:.1f}s" for t, x in sorted(by_tag.items()))
        print(f"total_{key}: {totals[key]:.1f}s   ({tag_s})")
    if "pass_loadavg" in d:
        print("pass_loadavg:", d["pass_loadavg"])
    share = len(wide) / max(1, len(spread))
    print(f"dispersion: {len(wide)}/{len(spread)} queries with med/min > "
          f"{ratio} ({share:.0%}; gate {frac:.0%})")
    # the count gate alone misses the r14 failure mode (8% of queries
    # dispersed but the MEDIAN TOTAL 1.45x the min total — a few huge
    # outliers); gate the totals ratio too
    tot_ratio = totals["med"] / max(1e-9, totals["min"])
    print(f"total_med/total_min: {tot_ratio:.2f}x (gate 1.35x)")
    # loadavg WARNING (r15 verdict: the recorded evidence should do
    # work): a loaded host at capture time doesn't refuse the bless —
    # r15 closed at start loadavg 9.6 with 1% dispersion — but it must
    # be self-documenting, so the warning is written INTO the artifact
    # (the reader of a future noisy capture sees it next to the
    # numbers, not in a lost terminal). Only the FIRST pass's start
    # loadavg measures EXTERNAL noise: later pass starts carry the
    # bench's own 32-thread bursts.
    warnings = []
    pl = d.get("pass_loadavg") or []
    if pl:
        start1 = (pl[0].get("start") or [0.0])[0]
        cpus = os.cpu_count() or 1
        load_gate = cpus * 0.5
        if start1 > load_gate:
            warnings.append(
                f"noisy capture window: pass-1 start loadavg {start1} > "
                f"{load_gate:.0f} (0.5 x {cpus} cpus) — medians in this "
                "artifact carry external load; trust mins only")
    for w in warnings:
        print(f"WARN {w}")
    if share > frac or tot_ratio > 1.35:
        print(f"REFUSING to bless {spread_path}: the window was too "
              "noisy — rerun the closing bench on a quieter host")
        sys.exit(1)
    # persist the verdict into the side artifact so the capture is
    # self-documenting (harness-shaped artifacts are read-only history)
    if "parsed" not in json.load(open(spread_path)):
        d["bless"] = {"blessed": True, "warnings": warnings,
                      "dispersed": sorted(wide),
                      "total_med_over_min": round(tot_ratio, 3)}
        with open(spread_path, "w") as f:
            json.dump(d, f)
    print("blessed" + (" (with warnings)" if warnings else ""))


def docs(argv):
    """Gate SCALE.md's closing-bench claim against the committed spread
    artifact (see module docstring). The claim is hostmark-relative so a
    post-close re-capture on a shifted host still reads consistent."""
    scale_md = argv[0] if argv else os.path.join(REPO, "SCALE.md")
    spread_path = argv[1] if len(argv) > 1 else os.path.join(
        REPO, "tools", "bench_spread.json")
    tol = float(argv[2]) if len(argv) > 2 else 0.05
    with open(scale_md) as f:
        claims = re.findall(
            r"closing total_min:\s*([0-9.]+)\s*s at hostmark_1t\s*"
            r"([0-9.]+)\s*s", f.read())
    if not claims:
        sys.exit(f"{scale_md}: no 'closing total_min: X s at "
                 "hostmark_1t Y s' claim line — add one (the pinned "
                 "format --docs checks)")
    stated_total, stated_hm = map(float, claims[-1])
    with open(spread_path) as f:
        d = json.load(f)
    if "parsed" in d:
        d = d["parsed"] or {}
    total, hm = d.get("value"), d.get("hostmark_1t")
    if total is None or not hm:
        sys.exit(f"{spread_path}: artifact lacks value/hostmark_1t — "
                 "--docs needs a hostmark-bearing closing artifact")
    if stated_hm <= 0:
        sys.exit(f"{scale_md}: stated hostmark_1t must be > 0")
    stated_rel, actual_rel = stated_total / stated_hm, total / hm
    drift = abs(stated_rel - actual_rel) / actual_rel
    print(f"SCALE.md claim: {stated_total:.1f}s @ hostmark {stated_hm:.3f}s"
          f" (relative {stated_rel:.1f}) vs artifact {total:.1f}s @ "
          f"{hm:.3f}s (relative {actual_rel:.1f}) — drift {drift:.1%}"
          f" vs tolerance {tol:.0%}")
    if drift > tol:
        sys.exit(f"STALE: SCALE.md's closing claim drifted {drift:.1%} "
                 f"from {spread_path} — update the claim line")
    print("docs consistent")


def selftest():
    """Pinned behavior of --bless (run in CI-less repos by hand):
    quiet window -> blessed, no warnings; loaded pass-1 start ->
    blessed WITH a warning persisted into the artifact; over-dispersed
    -> refused. Exits 0 iff all three hold."""
    import copy
    import subprocess
    import tempfile
    base = {
        "spread": {f"q{i}": {"min": 1.0, "med": 1.1, "tag": "production"}
                   for i in range(8)},
        "failures": [],
        "pass_loadavg": [{"pass": 1, "start": [1.0, 1.0, 1.0],
                          "end": [1.0, 1.0, 1.0]}],
    }
    me = os.path.abspath(__file__)

    def run(doc):
        with tempfile.NamedTemporaryFile("w", suffix=".json",
                                         delete=False) as f:
            json.dump(doc, f)
            path = f.name
        r = subprocess.run([sys.executable, me, "--bless", path],
                           capture_output=True, text=True)
        return r, json.load(open(path)), path

    r, art, _ = run(copy.deepcopy(base))
    assert r.returncode == 0 and "blessed" in r.stdout, r.stdout
    assert art["bless"]["blessed"] and not art["bless"]["warnings"], art
    noisy = copy.deepcopy(base)
    noisy["pass_loadavg"][0]["start"] = [(os.cpu_count() or 1) * 0.5 + 1,
                                         9.0, 9.0]
    r, art, _ = run(noisy)
    assert r.returncode == 0 and "WARN" in r.stdout, r.stdout
    assert art["bless"]["warnings"], art
    wide = copy.deepcopy(base)
    for q in wide["spread"]:
        wide["spread"][q]["med"] = 3.0
    r, art, _ = run(wide)
    assert r.returncode == 1 and "REFUSING" in r.stdout, r.stdout
    assert "bless" not in art, art

    # hostmark normalization: a uniform 1.6x level shift with matching
    # hostmarks must PASS the 1.5x regression gate (host got slower,
    # code did not); the same artifacts without hostmarks must FAIL;
    # and a genuine 2x code regression must fail THROUGH the shift.
    def cmp_run(old_doc, new_doc):
        paths = []
        for doc in (old_doc, new_doc):
            with tempfile.NamedTemporaryFile("w", suffix=".json",
                                             delete=False) as f:
                json.dump(doc, f)
                paths.append(f.name)
        return subprocess.run([sys.executable, me] + paths,
                              capture_output=True, text=True)
    mk = lambda scale, hm: {
        "metric": "total_min", "sf": "sfX",
        "queries": {f"q{i}": 1.0 * scale for i in range(8)},
        "spread": {f"q{i}": {"min": 1.0 * scale, "med": 1.1 * scale,
                             "tag": "production"} for i in range(8)},
        **({"hostmark_1t": hm} if hm else {})}
    r = cmp_run(mk(1.0, 1.0), mk(1.6, 1.6))
    assert r.returncode == 0 and "host shift: 1.600x" in r.stdout, r.stdout
    r = cmp_run(mk(1.0, None), mk(1.6, None))
    assert r.returncode == 1, r.stdout
    slow = mk(1.6, 1.6)
    slow["spread"]["q0"]["min"] = slow["queries"]["q0"] = 3.5
    r = cmp_run(mk(1.0, 1.0), slow)
    assert r.returncode == 1 and "REGRESSED q0" in r.stdout, r.stdout
    # regressed lines must show BOTH ratios when a shift applied
    assert "normalized (raw" in r.stdout, r.stdout
    # shift-trust clamp: a 3x hostmark ratio is outside the plausible
    # band — it must be IGNORED (raw gate applies), so the same uniform
    # 1.6x data that passed above now fails, loudly
    r = cmp_run(mk(1.0, 1.0), mk(1.6, 3.0))
    assert r.returncode == 1 and "WARN" in r.stdout and \
        "outside the trusted" in r.stdout, r.stdout
    # an exactly-zero hostmark must not normalize (and not crash)
    r = cmp_run(mk(1.0, 0.0), mk(1.6, 1.6))
    assert r.returncode == 1 and "host shift" not in r.stdout, r.stdout
    # host-shift diagnostic: a matched shift prints the median beside
    # the hostmark and no warning; a whole-bench 1.6x move under a 1.18x
    # hostmark warns but still passes (1.6 / 1.18 < 1.5); a 2x move
    # under the same hostmark warns AND fails — the gate is unchanged
    r = cmp_run(mk(1.0, 1.0), mk(1.6, 1.6))
    assert "median per-query ratio: 1.600x raw (hostmark 1.600x)" in \
        r.stdout and "not explained" not in r.stdout, r.stdout
    r = cmp_run(mk(1.0, 1.0), mk(1.6, 1.18))
    assert r.returncode == 0 and \
        "host shift not explained by hostmark" in r.stdout, r.stdout
    r = cmp_run(mk(1.0, 1.0), mk(2.0, 1.18))
    assert r.returncode == 1 and "REGRESSED" in r.stdout and \
        "host shift not explained by hostmark" in r.stdout, r.stdout

    # --docs: consistent claim passes; a host-shifted re-capture (total
    # and hostmark moved together) still passes; a stale total fails;
    # a missing claim line fails
    def docs_run(md_text, total, hm):
        with tempfile.NamedTemporaryFile("w", suffix=".md",
                                         delete=False) as f:
            f.write(md_text)
            md = f.name
        with tempfile.NamedTemporaryFile("w", suffix=".json",
                                         delete=False) as f:
            json.dump({"value": total, "hostmark_1t": hm}, f)
            sp = f.name
        return subprocess.run([sys.executable, me, "--docs", md, sp],
                              capture_output=True, text=True)
    claim = "blah\nclosing total_min: 274.3 s at hostmark_1t 0.779 s\n"
    r = docs_run(claim, 274.3, 0.779)
    assert r.returncode == 0 and "docs consistent" in r.stdout, r.stdout
    r = docs_run(claim, 274.3 * 1.4, 0.779 * 1.4)
    assert r.returncode == 0, r.stdout
    r = docs_run(claim, 304.1, 0.779)
    assert r.returncode == 1 and "STALE" in (r.stdout + r.stderr), \
        r.stdout + r.stderr
    r = docs_run("no claim here\n", 274.3, 0.779)
    assert r.returncode == 1 and "no 'closing total_min" in \
        (r.stdout + r.stderr), r.stdout + r.stderr
    print("selftest OK")


def main():
    if len(sys.argv) > 1 and sys.argv[1] == "--coverage":
        return coverage(sys.argv[2:])
    if len(sys.argv) > 1 and sys.argv[1] == "--bless":
        return bless(sys.argv[2:])
    if len(sys.argv) > 1 and sys.argv[1] == "--docs":
        return docs(sys.argv[2:])
    if len(sys.argv) > 1 and sys.argv[1] == "--selftest":
        return selftest()
    if len(sys.argv) < 3:
        sys.exit(__doc__)
    old_path, new_path = sys.argv[1], sys.argv[2]
    threshold = float(sys.argv[3]) if len(sys.argv) > 3 else 1.5
    (old, old_sf), (new, new_sf) = load(old_path), load(new_path)
    if old_sf and new_sf and old_sf != new_sf:
        sys.exit(f"sf mismatch: {old_path} ran at {old_sf}, {new_path} at "
                 f"{new_sf} — timings across scale factors cannot gate")

    # Host-shift normalization (r16 finding): the r16 closing window
    # measured EVERY query — pure-JVM kernels included — uniformly
    # ~1.54x of r15 on an IDLE host, a host-throughput level shift that
    # per-query min-of-N (additive-noise armor) cannot remove and the
    # dispersion bless cannot see (uniform => tight => blessed). The
    # hostmark (a fixed xorshift loop Bench times once per pass, min
    # over passes like every query) measures exactly that shift: when
    # BOTH artifacts carry hostmark_1t, the gate compares
    # shift-normalized ratios and says so — "the host got slower" and
    # "the code got slower" separate mechanically.
    def hostmark_of(path):
        with open(path) as f:
            d = json.load(f)
        if "parsed" in d:
            d = d["parsed"] or {}
        return d.get("hostmark_1t")
    hm_old, hm_new = hostmark_of(old_path), hostmark_of(new_path)
    shift = 1.0
    if hm_old is not None and hm_new is not None and hm_old > 0:
        shift = hm_new / hm_old
        # Bounded trust: the hostmark is a CPU-throughput calibration, so
        # a shift far outside the plausible shared-host band (observed
        # r15->r16: ~1.5x) is more likely a corrupted/degenerate mark than
        # a real throughput change — and dividing every query (I/O-bound
        # included) by a huge factor would mask genuine regressions. Warn
        # loudly and fall back to raw ratios outside [0.5, 2.0].
        if not (0.5 <= shift <= 2.0):
            print(f"WARN: host shift {shift:.3f}x (hostmark_1t "
                  f"{hm_old:.3f}s -> {hm_new:.3f}s) outside the trusted "
                  "[0.5, 2.0] band — IGNORING it; ratios below are RAW. "
                  "Inspect both artifacts' hostmarks by hand.")
            shift = 1.0
        else:
            print(f"host shift: {shift:.3f}x (hostmark_1t {hm_old:.3f}s -> "
                  f"{hm_new:.3f}s) — per-query ratios below are "
                  "shift-normalized (raw ratios shown alongside)")

    shared = sorted(set(old) & set(new))
    ratios = sorted(new[q][0] / old[q][0] for q in shared if old[q][0] > 0)
    if ratios:
        mid = len(ratios) // 2
        median = (ratios[mid] if len(ratios) % 2
                  else (ratios[mid - 1] + ratios[mid]) / 2)
        hm_ratio = (hm_new / hm_old if hm_old and hm_new is not None
                    else None)
        print(f"median per-query ratio: {median:.3f}x raw" +
              (f" (hostmark {hm_ratio:.3f}x)" if hm_ratio else
               " (no hostmark on both sides)"))
        band = 1 + (threshold - 1) / 2
        if hm_ratio and not (1 / band <= median / hm_ratio <= band):
            print(f"host shift not explained by hostmark: median "
                  f"per-query ratio {median:.3f}x vs hostmark "
                  f"{hm_ratio:.3f}x (residual {median / hm_ratio:.3f}x, "
                  f"outside the {band:.2f}x band) — the per-query verdicts below "
                  "may be the host, not the code; compare against a "
                  "same-window parent run")
    regressed = []
    for q in shared:
        (o, okind), (n, nkind) = old[q], new[q]
        if o > 0 and n / o / shift > threshold:
            regressed.append((q, o, okind, n, nkind, n / o / shift))

    for q in sorted(set(new) - set(old)):
        print(f"NEW      {q}: {new[q][0]:.3f}s")
    for q in sorted(set(old) - set(new)):
        print(f"REMOVED  {q} (was {old[q][0]:.3f}s)")
    for q, o, okind, n, nkind, r in sorted(regressed, key=lambda x: -x[5]):
        print(f"REGRESSED {q}: {o:.3f}s ({okind}) -> {n:.3f}s ({nkind})  "
              f"{r:.2f}x" + (f" normalized (raw {r * shift:.2f}x)"
                             if shift != 1.0 else ""))

    ok = len(shared) - len(regressed)
    print(f"{ok}/{len(shared)} shared queries within {threshold}x"
          + (f" (host-shift-normalized by {shift:.3f}x)"
             if shift != 1.0 else ""))
    if regressed:
        sys.exit(1)


if __name__ == "__main__":
    main()
