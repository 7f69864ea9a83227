#!/usr/bin/env python3
"""Gate-sensitivity drill: prove the correctness gate CAN go red.

The q220 partial-oracle blind spot (r16-r17: an inner join that
shrank/multiplied oracle and Spark identically, so dropped and
duplicated dump rows passed) survived two rounds of green gates because
nothing ever tested that the gate catches a seeded defect. This script
is mutation testing for the oracle harness itself: copy a query's dump
out of an existing Verify run, seed ONE defect per class, and assert
scripts/check.py reports FAIL (or, for the documented-by-design cases,
PASS) exactly as the oracle contract claims, and exits 0 exactly when
it reports PASS. Exit 0 iff every case behaves.

Defect classes, against the hardened partial oracles (q220/q222/q224):
  drop     a dump row vanishes        → -888 missing-key sentinel
  dup      a dump row appears twice   → -777 duplicate-key sentinel
  extra    a key outside the base set → reconstructed-base row count
  null     a value silently nulled    → -999 NULL-pattern sentinel
  perturb  one double off by 1e-3     → PASS **by design** in the row's
           OWN oracle (the zlib value rides the self-join; that is what
           "partial" means) ...
  flip     ... and the backstop that makes the blindness safe: the same
           dump value flipped across a gate boundary (plant -1's cratio
           0.02 → 0.99) breaks the DOWNSTREAM row (q221/q223/q225),
           whose oracle replays composition logic over the mutated dump
           while its Spark dump used the true recomputed values.
Plus q01 (standard full oracle): perturb → FAIL directly, and
  skip (its dump directory is absent, as when Verify skipped or lost
  the query) → NO_SPARK_OUTPUT, FAIL.
Full-oracle rows (q226-q231 families) take drop/dup/extra directly, and
  textmut corrupts one persisted v8 STATE cell (q230's dump) to prove
  the downstream state-replay oracle (q231) flips.

Usage: python3 scripts/gate_drill.py [sfDir] [verifyOut]
  sfDir     tables the oracles read        (default /root/testdata/sf0.001)
  verifyOut an existing graft.Verify dump  (default /tmp/verify_out)
            — must contain oracle_sql.json and the target query dirs
            (run `python3 scripts/check.py <sfDir> <verifyOut>` first).
"""
import sys, os, re, json, glob, shutil, subprocess
import numpy as np
import pandas as pd

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
SRC = os.path.abspath(sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_out")
DRILL = "/tmp/gate_drill_out"
HERE = os.path.dirname(os.path.abspath(__file__))

# (dump to mutate, mutation, query whose oracle must react, expected)
CASES = [
    ("q220_compress_ratios", "none",    "q220_compress_ratios", "PASS"),
    ("q220_compress_ratios", "drop",    "q220_compress_ratios", "FAIL"),
    ("q220_compress_ratios", "dup",     "q220_compress_ratios", "FAIL"),
    ("q220_compress_ratios", "extra",   "q220_compress_ratios", "FAIL"),
    ("q220_compress_ratios", "null",    "q220_compress_ratios", "FAIL"),
    ("q220_compress_ratios", "perturb", "q220_compress_ratios", "PASS"),
    ("q220_compress_ratios", "flip",    "q221_compress_report", "FAIL"),
    ("q222_v6_ratios",       "drop",    "q222_v6_ratios",       "FAIL"),
    ("q222_v6_ratios",       "dup",     "q222_v6_ratios",       "FAIL"),
    ("q222_v6_ratios",       "flip",    "q223_pipeline_v6",     "FAIL"),
    ("q224_v7_delta_ratios", "drop",    "q224_v7_delta_ratios", "FAIL"),
    ("q224_v7_delta_ratios", "dup",     "q224_v7_delta_ratios", "FAIL"),
    ("q224_v7_delta_ratios", "flip",    "q225_pipeline_v7",     "FAIL"),
    ("q01_groupby_agg",      "perturb", "q01_groupby_agg",      "FAIL"),
    ("q01_groupby_agg",      "skip",    "q01_groupby_agg",      "FAIL"),
    # r19: the extra/null classes drilled against EVERY hardened partial
    # oracle (they were previously exercised only via q220, while the
    # q222/q224 registry comments claimed full three-direction backing)
    ("q222_v6_ratios",       "extra",   "q222_v6_ratios",       "FAIL"),
    ("q222_v6_ratios",       "null",    "q222_v6_ratios",       "FAIL"),
    ("q224_v7_delta_ratios", "extra",   "q224_v7_delta_ratios", "FAIL"),
    ("q224_v7_delta_ratios", "null",    "q224_v7_delta_ratios", "FAIL"),
    # r19: every new row family enters the drill the round it lands.
    # q226/q227/q228 are FULL oracles (DuckDB recomputes the whole
    # expected set) — any membership defect must flip them directly.
    ("q226_v7_tombstones",   "drop",    "q226_v7_tombstones",   "FAIL"),
    ("q226_v7_tombstones",   "dup",     "q226_v7_tombstones",   "FAIL"),
    ("q226_v7_tombstones",   "extra",   "q226_v7_tombstones",   "FAIL"),
    ("q227_v7_pack_compaction", "drop", "q227_v7_pack_compaction", "FAIL"),
    ("q228_v7_deletion_request", "drop", "q228_v7_deletion_request", "FAIL"),
    # r19: the v8 state-table rows (full oracles) and the state-ingest
    # replay row; textmut is the v8 backstop — corrupt one persisted
    # state cell and the DOWNSTREAM replay oracle (which reads the
    # dumped state) must flip while q231's own Spark dump, built from
    # the true state, stands
    ("q229_v8_state_keys",   "drop",    "q229_v8_state_keys",   "FAIL"),
    ("q230_v8_state_clean",  "drop",    "q230_v8_state_clean",  "FAIL"),
    ("q231_v8_ingest_state", "drop",    "q231_v8_ingest_state", "FAIL"),
    ("q231_v8_ingest_state", "dup",     "q231_v8_ingest_state", "FAIL"),
    ("q230_v8_state_clean",  "textmut", "q231_v8_ingest_state", "FAIL"),
]


def mutate(df: pd.DataFrame, kind: str) -> pd.DataFrame:
    i = len(df) // 3
    assert len(df) > 3, "dump too small to mutate meaningfully"
    if kind == "none":
        return df
    if kind == "drop":
        return df.drop(df.index[i]).reset_index(drop=True)
    if kind == "dup":  # adjacent duplicate: pure-membership defect, not order
        return pd.concat([df.iloc[:i + 1], df.iloc[i:i + 1], df.iloc[i + 1:]],
                         ignore_index=True)
    if kind == "extra":  # a key the oracle's reconstructed base never has
        r = df.iloc[[i]].copy()
        for c in r.columns:
            if pd.api.types.is_integer_dtype(r[c]):
                r[c] = 999999999
        return pd.concat([df, r], ignore_index=True)
    if kind == "flip":  # gate-crossing value defect: the looping plant
        # (cratio ≈ 0.02, gated OUT) claims near-incompressibility —
        # the downstream oracle now gates it IN while the downstream
        # Spark dump (built on true recomputed ratios) never saw it
        assert (df.doc_id == -1).any(), "plant -1 missing from dump"
        df.loc[df.doc_id == -1, "cratio"] = 0.99
        return df
    floats = [c for c in df.columns if pd.api.types.is_float_dtype(df[c])]
    ints = [c for c in df.columns if pd.api.types.is_integer_dtype(df[c])]
    if kind == "perturb":  # one value off by 1e-3 (or 1 for int-only dumps)
        if floats:
            c = floats[0]
            j = df.index[df[c].notna()][0]
            df.loc[j, c] = df.loc[j, c] + 1e-3
        else:
            c = ints[0]
            df.loc[df.index[i], c] = df.loc[df.index[i], c] + 1
        return df
    if kind == "textmut":  # corrupt ONE cell of a persisted state-table
        # dump: the downstream replay oracle recomputes over the mutated
        # state (every pack offset shifts with the token count) while
        # the downstream Spark dump was built from the true state
        c = next(c for c in df.columns if df[c].dtype == object)
        j = df.index[0]
        df.loc[j, c] = str(df.loc[j, c]) + " zzz"
        return df
    if kind == "null":  # a spurious NULL where a value belongs: NaN in a
        # float64 frame lands as a parquet NULL via pyarrow — exactly
        # what a silently-nulled Spark value would dump
        c = floats[0]
        j = df.index[df[c].notna()][0]
        df.loc[j, c] = np.nan
        return df
    raise ValueError(kind)


def run_case(mut_q: str, kind: str, check_q: str, expected: str,
             oracle: dict) -> bool:
    shutil.rmtree(DRILL, ignore_errors=True)
    os.makedirs(DRILL)
    if kind != "skip":  # skip: the checked query's dump never landed
        os.makedirs(f"{DRILL}/{mut_q}")
        df = pd.read_parquet(f"{SRC}/{mut_q}")
        mutate(df, kind).to_parquet(f"{DRILL}/{mut_q}/part-0.parquet",
                                    index=False)
    if check_q != mut_q:  # downstream row: its own dump stays clean
        shutil.copytree(f"{SRC}/{check_q}", f"{DRILL}/{check_q}")
    # every OTHER dump the oracle reads (e.g. q231 reads q224 + both v8
    # state tables) rides along unmutated — the path rewrite below
    # points the whole oracle at DRILL, so missing deps would error out
    # instead of testing the seeded defect
    for dq in set(re.findall(re.escape(SRC) + r"/([A-Za-z0-9_]+)/",
                             oracle[check_q])) - {mut_q, check_q}:
        shutil.copytree(f"{SRC}/{dq}", f"{DRILL}/{dq}")
    # the dump-reading oracle must read the (mutated) copies, not SRC
    with open(f"{DRILL}/oracle_sql.json", "w") as f:
        json.dump({check_q: oracle[check_q].replace(SRC, DRILL)}, f)
    r = subprocess.run(
        [sys.executable, f"{HERE}/check.py", SF, DRILL, "--skip-verify",
         check_q],
        capture_output=True, text=True)
    verdict, detail = None, f"no verdict line (rc={r.returncode})"
    for line in r.stdout.splitlines():
        if line.startswith(("PASS ", "FAIL ")) and check_q in line:
            verdict, detail = line.split()[0], line
            break
    ok = (verdict == expected and (r.returncode == 0) == (verdict == "PASS")
          and (kind != "skip" or "NO_SPARK_OUTPUT" in detail))
    print(f"{'ok ' if ok else 'BAD'}  {mut_q:22s} {kind:8s}"
          f" -> {check_q:22s} expected={expected} got={verdict} rc={r.returncode}"
          + ("" if ok else f"\n     {detail}"))
    return ok


def main() -> int:
    oracle_path = f"{SRC}/oracle_sql.json"
    if not os.path.exists(oracle_path):
        sys.exit(f"{oracle_path} missing — run "
                 f"`python3 scripts/check.py {SF} {SRC}` first")
    oracle = json.load(open(oracle_path))
    bad = 0
    for mut_q, kind, check_q, expected in CASES:
        missing = [q for q in {mut_q, check_q}
                   if q not in oracle or not glob.glob(f"{SRC}/{q}/*.parquet")]
        if missing:
            print(f"BAD  {mut_q:22s} {kind:8s} — missing in {SRC}: {missing}")
            bad += 1
            continue
        if not run_case(mut_q, kind, check_q, expected, oracle):
            bad += 1
    print(f"== gate drill: {len(CASES) - bad}/{len(CASES)} cases behaved ==")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
