#!/usr/bin/env python3
"""Control-normalized bench comparison across rounds.

Usage: python3 tools/bench_compare.py <old_bench.json> <new_bench.json> [band]

The host this repo benches on has intermittent multi-minute stall windows
(round-6's driver run recorded 2.6-42x per-query inflation with ZERO code
cause; even untouched relational controls inflated 2.6x). Raw per-query
ratios across rounds are therefore meaningless without normalizing by how
fast the HOST was during each run. This tool encodes the adjudication
discipline the round-6 judge applied by hand:

  1. host speed per run = median of the run's control-probe series
     (`controls`, emitted every 12 queries since round 7; falls back to
     control_start/end, then to the median per-query ratio itself).
  2. normalized ratio = (new_sec / old_sec) / (new_host / old_host).
  3. flag only queries whose normalized ratio exceeds the band (default
     1.5x) in either direction — those are real regressions/wins, not drift.

Pairs captured at different core counts (`cpus`) are refused: no control
probe normalizes a 4x change in parallelism. A gate timed in the old run
that the new run lists under `failed` is reported as FAILED (exit 1), not
as a missing gate.

Accepts raw one-line bench JSON, sbt "[info] "-prefixed lines, and the
driver's {n, rc, tail} wrapper (tail may be TRUNCATED mid-JSON — parse
defensively and use whatever queries survive).
"""
import json, os, re, statistics, sys


def prefer_full_archive(path):
    """Given a driver-tail artifact BENCH_r{N}.json, prefer the sibling
    BENCH_full_r{N}.json that Bench archives on every clean full run: the
    driver tail TRUNCATES most of the per-query map (36-42 query times lost
    in round 11), while the archive holds the complete line. Explicit paths
    to archives or other files pass through untouched."""
    m = re.match(r"BENCH_r(\d+)\.json$", os.path.basename(path))
    if not m:
        return path
    full = os.path.join(os.path.dirname(path) or ".",
                        f"BENCH_full_r{int(m.group(1)):02d}.json")
    if os.path.exists(full):
        print(f"NOTE: using {full} (complete per-query map) instead of the "
              f"truncated driver tail {path}")
        return full
    return path


def load(path):
    text = open(prefer_full_archive(path)).read()
    # driver wrapper {n, rc, tail}?
    try:
        obj = json.loads(text)
        if isinstance(obj, dict) and "tail" in obj:
            text = obj["tail"]
        elif isinstance(obj, dict) and "queries" in obj:
            return obj
    except json.JSONDecodeError:
        pass
    m = re.search(r'\{"metric".*', text)
    if m:
        line = m.group(0).splitlines()[0]
        try:
            parsed = json.loads(line)
            # the trailing SUMMARY line ("summary_of": ...) parses cleanly
            # but carries no per-query map — returning it would crash the
            # caller on d["queries"]; fall through to the salvage regex
            # over the WHOLE text instead (the truncated full line still
            # holds whatever per-query pairs survived)
            if "queries" in parsed:
                return parsed
        except json.JSONDecodeError:
            pass  # truncated mid-JSON: salvage pairs from the whole text
    # truncated head or tail (the driver keeps only a log tail): salvage
    # every query-shaped "name":sec pair; query names are g_*/x_*/q<N>_*
    # so meta fields (value, host_factor, ...) never collide.
    # Pairs INSIDE the "fixture_sec" map must be excluded entirely — when
    # the tail truncates away a query's entry in the "queries" map, its
    # fixture split would otherwise masquerade as the query time and
    # manufacture phantom 5-20x regressions (g_stream_join 0.24s-fixture
    # vs 4.9s-query). First-occurrence-wins alone cannot fix that: for a
    # truncated-away query the fixture value IS the first occurrence.
    mf = re.search(r'"fixture_sec":\{[^}]*\}', text)
    if mf:
        fix_lo, fix_hi = mf.span()
    elif '"fixture_sec":{' in text:
        # tail may truncate INSIDE fixture_sec: exclude from its opening
        # brace to the end of text (nothing query-shaped follows it except
        # the summary line, which carries no per-query pairs)
        fix_lo, fix_hi = text.find('"fixture_sec":{'), len(text)
    elif '"queries":{' not in text and '"control_start_sec"' in text:
        # HEAD truncation inside fixture_sec: the window opened after the
        # "fixture_sec":{ key itself, so every query-shaped pair before
        # the post-map fields is an orphan fixture split — exclude the
        # head up to "control_start_sec" (the field that follows the map)
        fix_lo, fix_hi = 0, text.find('"control_start_sec"')
    else:
        fix_lo, fix_hi = -1, -1
    dropped = set()
    qs = {}
    for pm in re.finditer(r'"((?:g|x)_[a-z0-9_]+|q\d+_[a-z0-9_]+)":([0-9.]+)', text):
        if fix_lo <= pm.start() < fix_hi:
            dropped.add(pm.group(1))
            continue
        qs.setdefault(pm.group(1), float(pm.group(2)))
    dropped -= set(qs)
    if dropped:
        print(f"WARNING {path}: {len(dropped)} queries survived only as "
              f"fixture_sec splits in the truncated tail and were DROPPED "
              f"from the comparison (their query times did not survive): "
              f"{', '.join(sorted(dropped)[:8])}{'...' if len(dropped) > 8 else ''}")
    if not qs:
        sys.exit(f"{path}: no bench JSON found")
    out = {"queries": qs}
    mfl = re.search(r'"failed":\[(.*?)\](?=,"fixture_sec")', text)
    if mfl:
        out["failed"] = [{"name": n, "error": e} for n, e in re.findall(
            r'"name":"([^"]+)","error":"([^"]*)"', mfl.group(1))]
    mcpu = re.search(r'"cpus":(\d+)', text)
    if mcpu:
        out["cpus"] = int(mcpu.group(1))
    mv = re.search(r'"verdict":"([^"]+)"', text)
    if mv:
        out["verdict"] = mv.group(1)
    mat = re.search(r'"attempts":(\d+)', text)
    if mat:
        out["attempts"] = int(mat.group(1))
    mc = re.search(r'"controls":\[([0-9.,]+)\]', text)
    if mc:
        out["controls"] = [float(x) for x in mc.group(1).split(",")]
    for key in ("control_start_sec", "control_end_sec"):
        mk = re.search(rf'"{key}":([0-9.]+)', text)
        if mk:
            out[key] = float(mk.group(1))
    return out


def host_speed(d, other=None):
    ctl = d.get("controls")
    if ctl:
        return statistics.median(ctl)
    se = [v for v in (d.get("control_start_sec"), d.get("control_end_sec"))
          if v is not None]
    if se:
        return statistics.median(se)
    return None


def main(old_path, new_path, band=1.5):
    old, new = load(old_path), load(new_path)
    # Bench skips writing BENCH.full.json on a polluted final attempt, but
    # driver log tails can still carry one — never let a contended run pass
    # silently as a baseline.
    for path, d in ((old_path, old), (new_path, new)):
        v = d.get("verdict", "clean")
        if v != "clean":
            print(f"WARNING: {path} verdict is '{v}' — its times are host-"
                  "contended; rerun it before trusting any flag below")
    co, cn = old.get("cpus"), new.get("cpus")
    if co is not None and cn is not None and co != cn:
        sys.exit(f"refusing to compare: {old_path} ran on {co} cpus, "
                 f"{new_path} on {cn} cpus")
    if co is None or cn is None:
        print("WARNING: a capture does not record its core count — make sure "
              "both ran on the same number of cpus")
    qo, qn = old["queries"], new["queries"]
    failed_new = {f["name"]: f for f in new.get("failed") or []}
    newly_failed = sorted(k for k in qo if k in failed_new)
    missing = sorted(k for k in qo if k not in qn and k not in failed_new)
    common = sorted(set(qo) & set(qn))
    if not common:
        sys.exit("no common queries")
    ho, hn = host_speed(old), host_speed(new)
    if ho and hn:
        drift = hn / ho
        print(f"host drift (new/old control median): {drift:.2f}")
    else:
        # no probes (pre-round-7 JSON): median per-query ratio IS the drift
        drift = statistics.median(qn[k] / qo[k] for k in common if qo[k] > 0)
        print(f"host drift (median per-query ratio fallback): {drift:.2f}")
    # stall_suspects (round-7+): queries whose measurement segment had a
    # spiked control probe in EITHER run — a flag on them is host noise,
    # not evidence; report them separately rather than as regressions.
    suspect = set(old.get("stall_suspects") or []) | set(new.get("stall_suspects") or [])
    truncated = [s for s in suspect if s.startswith("+")]
    if truncated:
        print(f"WARNING: stall_suspects list truncated ({', '.join(truncated)}) — "
              "unlisted REGRESSION flags below may also be stall noise")
    # attempts-comparability (r13 verdict #5): a first-pass (attempts:1)
    # capture measures the alphabetically-first gates in a colder JVM than
    # a retry-pass (attempts:2) capture, whose measured pass runs fully
    # warm — r13's "regression tail" was exactly this artifact on the first
    # ~12 sorted gates. When the two captures' attempts differ, those
    # gates' flags are warmup noise, not evidence; report them separately.
    ao, an = old.get("attempts"), new.get("attempts")
    warmup_gates = set()
    if ao is not None and an is not None and ao != an:
        warmup_gates = set(common[:12])
        print(f"NOTE: attempts differ (old {ao}, new {an}) — the first "
              f"{len(warmup_gates)} sorted gates measure under different JVM "
              "warmth; their flags are reported as warmup-incomparable")
    flagged, noisy, warm = [], [], []
    for k in common:
        if qo[k] <= 0 or qn[k] <= 0:
            continue
        norm = (qn[k] / qo[k]) / drift
        if norm > band or norm < 1 / band:
            bucket = noisy if k in suspect else (warm if k in warmup_gates else flagged)
            bucket.append((norm, k, qo[k], qn[k]))
    print(f"{len(common)} common queries, "
          f"old total {sum(qo[k] for k in common):.1f}s, "
          f"new total {sum(qn[k] for k in common):.1f}s, band {band}x")
    for norm, k, o, n in sorted(flagged, reverse=True):
        tag = "REGRESSION" if norm > 1 else "win"
        print(f"  {tag:10s} {k}: {o:.2f}s -> {n:.2f}s "
              f"(raw {n / o:.2f}x, normalized {norm:.2f}x)")
    for norm, k, o, n in sorted(noisy, reverse=True):
        print(f"  stall-suspect {k}: {o:.2f}s -> {n:.2f}s "
              f"(normalized {norm:.2f}x; measured inside a spiked control segment"
              " — rerun before believing)")
    for norm, k, o, n in sorted(warm, reverse=True):
        print(f"  warmup-incomparable {k}: {o:.2f}s -> {n:.2f}s "
              f"(normalized {norm:.2f}x; early-sorted gate across attempts:"
              f"{ao} vs attempts:{an} captures — JVM warmth, not code)")
    if not flagged and not noisy and not warm:
        print("  no per-query change outside the band after host normalization")
    added = sorted(set(qn) - set(qo))
    if added:
        print(f"new queries (no baseline): {', '.join(added)}")
    if missing:
        print(f"missing from the new run (neither timed nor failed): {', '.join(missing)}")
    for k in newly_failed:
        f = failed_new[k]
        why = ": ".join(x for x in (f.get("error"), f.get("message")) if x)
        print(f"  FAILED     {k}: {qo[k]:.2f}s -> throws ({why or 'no error recorded'})")
    if newly_failed:
        sys.exit(1)


if __name__ == "__main__":
    band = float(sys.argv[3]) if len(sys.argv) > 3 else 1.5
    main(sys.argv[1], sys.argv[2], band)
