#!/usr/bin/env python3
"""Scaled-decade correctness sweep, end to end, with the artifact
COMMITTED in the same invocation that produced it (two rounds lost
sweep artifacts to session boundaries — the write and the git commit
are one code path here, provable with --dry-run).

Steps:
  1. sbt-export the runtime classpath (cached file);
  2. MakeScale the source SF by --copies into --workdir (skipped when
     its .complete marker exists);
  3. run graft.Verify as N parallel plain-java workers over
     cost-balanced disjoint query lists (costs from bench_full.json,
     longest-processing-time-first assignment; resumable — queries
     with non-empty output dirs are skipped);
  4. compare against DuckDB in K parallel splits (symlink view dirs,
     SCALED_ORACLES=1 for the structurally-infeasible-at-100x oracles,
     ORACLE_TIMEOUT per query, dedup_ngram_jaccard expect-excluded per
     its SURVEY §2 sf<=0.1 contract);
  5. merge the split reports, write the artifact INTO THE REPO, git
     add + commit it atomically.

Usage:
  python3 tools/sweep_scale.py --round r11            # the real sweep
  python3 tools/sweep_scale.py --dry-run              # prove step 5
  python3 tools/sweep_scale.py --round r11 --engine-only   # steps 1-3

/tmp PERSISTS ACROSS ROUNDS on this box: engine outputs in --outdir are
resumed by presence (has_parquet), so at the start of a new round wipe
the outdir for any query whose SEMANTICS changed since the last sweep —
a stale output would be compared against the new oracle and fail (or,
worse, an unchanged-oracle query would silently pass on old code's
output). Compare-split report.json resumption is opt-in via
RESUME_REPORT=1 (driver_compare.py) and is NOT set here, so compares
are always fresh.
"""
import argparse
import json
import math
import os
import subprocess
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

EXPECT_EXCLUDE = "dedup_ngram_jaccard"  # SURVEY §2 F3: sf<=0.1 contract
DEFAULT_COST = 3.0  # seconds @sf0.1 for queries absent from bench_full


def sh(cmd, **kw):
    print(f"+ {cmd if isinstance(cmd, str) else ' '.join(cmd)}", flush=True)
    return subprocess.run(cmd, check=True, **kw)


# ——— step 1: classpath ———

def classpath(cache="/tmp/graft_classpath.txt"):
    if not os.path.exists(cache):
        r = subprocess.run(
            ["sbt", "-batch", "export Runtime/fullClasspath"],
            cwd=REPO, capture_output=True, text=True, check=True)
        cp = [ln for ln in r.stdout.splitlines() if "/opt/spark/jars" in ln][-1]
        with open(cache, "w") as f:
            f.write(cp.strip())
    return open(cache).read().strip()


JAVA_OPENS = [f"--add-opens={p}=ALL-UNNAMED" for p in (
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar")]


# ——— step 2: scaled data ———

def make_scale(cp, src, dst, copies, cpus=32):
    marker = os.path.join(dst, ".complete")
    if os.path.exists(marker):
        print(f"= scaled data present: {dst}", flush=True)
        return
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus))
    sh(["java", *JAVA_OPENS, "-Xmx48g", "-cp", cp,
        "graft.tools.MakeScale", src, dst, str(copies)], env=env, cwd=REPO)
    open(marker, "w").write(f"{src} x{copies}\n")


# ——— step 3: parallel engine workers ———

def balanced_split(names, costs, n):
    """Longest-processing-time-first into n buckets; returns list of
    lists, heaviest queries isolated first."""
    buckets = [[] for _ in range(n)]
    loads = [0.0] * n
    for name in sorted(names, key=lambda q: -costs.get(q, DEFAULT_COST)):
        i = loads.index(min(loads))
        buckets[i].append(name)
        loads[i] += costs.get(name, DEFAULT_COST)
    print("= worker loads (est s @sf0.1): "
          + " ".join(f"{l:.1f}" for l in loads), flush=True)
    return [b for b in buckets if b]


def nonempty(outdir, name):
    d = os.path.join(outdir, name)
    return os.path.isdir(d) and any(
        f.endswith(".parquet") or f == "_SUCCESS" for f in os.listdir(d))


def has_parquet(outdir, name):
    d = os.path.join(outdir, name)
    return os.path.isdir(d) and any(
        f.endswith(".parquet") for f in os.listdir(d))


def run_engine(cp, sfdir, outdir, names, workers, cpus_per, xmx):
    # the expect-excluded queries are out of CONTRACT at this scale
    # (SURVEY §2 F3: the full quadratic pair graph) — exclude them
    # from the ENGINE run too, not just the compare, or a worker
    # grinds on an O(n^2·copies^2) plan forever
    names = [n for n in names
             if n not in EXPECT_EXCLUDE.split(",")]
    todo = [n for n in names if not has_parquet(outdir, n)]
    print(f"= engine: {len(names) - len(todo)} done, {len(todo)} to run",
          flush=True)
    if not todo:
        return
    costs = {}
    bench = os.path.join(REPO, "bench_full.json")
    if os.path.exists(bench):
        costs = json.load(open(bench)).get("queries", {})
    splits = balanced_split(todo, costs, workers)
    procs = []
    for i, split in enumerate(splits):
        log = open(f"{outdir}/worker{i}.log", "w")
        env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus_per))
        p = subprocess.Popen(
            ["java", *JAVA_OPENS, f"-Xmx{xmx}", "-cp", cp,
             "graft.Verify", sfdir, outdir, ",".join(split)],
            stdout=log, stderr=log, env=env, cwd=REPO)
        procs.append((p, split, log))
        print(f"= worker {i}: pid {p.pid}, {len(split)} queries", flush=True)
    fail = []
    for p, split, log in procs:
        rc = p.wait()
        log.close()
        if rc != 0:
            fail.append((rc, split))
    if fail:
        raise SystemExit(f"engine workers failed: {fail}")
    missing = [n for n in names if not has_parquet(outdir, n)]
    if missing:
        raise SystemExit(f"engine outputs missing/empty: {missing}")
    print("= engine: all outputs present", flush=True)


# ——— step 4: parallel oracle compares over symlink views ———

def run_compares(sfdir, outdir, names, splits_n, timeout, heavy_timeout,
                 heavy):
    oracle = json.load(open(f"{outdir}/oracle_sql.json"))
    names = [n for n in names if n in oracle]
    costs = {}
    bench = os.path.join(REPO, "bench_full.json")
    if os.path.exists(bench):
        costs = json.load(open(bench)).get("queries", {})
    normal = [n for n in names if n not in heavy]
    groups = balanced_split(normal, costs, splits_n)
    if heavy:
        groups.append([n for n in heavy if n in oracle])
    procs = []
    reports = []
    for i, grp in enumerate(groups):
        view = f"{outdir}_cmp{i}"
        os.makedirs(view, exist_ok=True)
        with open(f"{view}/oracle_sql.json", "w") as f:
            json.dump({n: oracle[n] for n in grp}, f)
        # full map alongside: scaled_oracles needs other queries' SQL
        # as dependency fragments (minhash pairs, bpe merge table)
        with open(f"{view}/oracle_sql_full.json", "w") as f:
            json.dump(oracle, f)
        for n in grp:
            link = f"{view}/{n}"
            if not os.path.islink(link) and not os.path.exists(link):
                os.symlink(f"{outdir}/{n}", link)
        rep = f"{view}/report.json"
        reports.append(rep)
        is_heavy = heavy and i == len(groups) - 1
        env = dict(os.environ, SCALED_ORACLES="1",
                   ORACLE_TIMEOUT=str(heavy_timeout if is_heavy else timeout),
                   EXPECT_EXCLUDE=EXPECT_EXCLUDE,
                   DUCKDB_MEMLIMIT=os.environ.get(
                       "DUCKDB_MEMLIMIT", f"{max(4, 96 // len(groups))}GB"))
        log = open(f"{view}/compare.log", "w")
        p = subprocess.Popen(
            [sys.executable, f"{REPO}/tools/driver_compare.py",
             sfdir, view, rep],
            stdout=log, stderr=log, env=env)
        procs.append((p, log, i, len(grp)))
        print(f"= compare split {i}: pid {p.pid}, {len(grp)} queries"
              + (" (heavy)" if is_heavy else ""), flush=True)
    for p, log, i, n in procs:
        rc = p.wait()
        log.close()
        print(f"= compare split {i} exited rc={rc}", flush=True)
    merged = {}
    for rep in reports:
        if os.path.exists(rep):
            merged.update(json.load(open(rep)))
    return merged


# ——— step 5: atomic artifact write + commit ———

def commit_artifact(repo, relpath, payload, message):
    """The write and the commit are ONE code path: dies loudly if
    either fails, never leaves the artifact uncommitted."""
    path = os.path.join(repo, relpath)
    with open(path, "w") as f:
        json.dump(payload, f, indent=2, sort_keys=True)
        f.write("\n")
    sh(["git", "-C", repo, "add", relpath])
    sh(["git", "-C", repo, "commit", "-m", message])
    head = subprocess.run(["git", "-C", repo, "log", "--oneline", "-1"],
                          capture_output=True, text=True).stdout.strip()
    print(f"= committed: {head}", flush=True)
    return head


def dry_run():
    """Prove the write+commit path in a sandbox repo."""
    with tempfile.TemporaryDirectory() as d:
        sh(["git", "init", "-q", d])
        sh(["git", "-C", d, "config", "user.email", "sweep@local"])
        sh(["git", "-C", d, "config", "user.name", "sweep"])
        open(os.path.join(d, "seed"), "w").write("seed\n")
        sh(["git", "-C", d, "add", "seed"])
        sh(["git", "-C", d, "commit", "-q", "-m", "seed"])
        head = commit_artifact(d, "CORRECTNESS_DRYRUN.json",
                               {"probe": {"hash_match": True}},
                               "dry-run artifact")
        got = json.load(open(os.path.join(d, "CORRECTNESS_DRYRUN.json")))
        n = subprocess.run(["git", "-C", d, "rev-list", "--count", "HEAD"],
                           capture_output=True, text=True).stdout.strip()
        assert got == {"probe": {"hash_match": True}} and n == "2", (got, n)
        print(f"== dry run PASS: artifact written and committed ({head})")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-src", default="/root/testdata/sf0.1")
    ap.add_argument("--copies", type=int, default=100)
    ap.add_argument("--workdir", default="/tmp/sf10")
    ap.add_argument("--outdir", default="/tmp/sf10_out")
    ap.add_argument("--round", default="rX")
    ap.add_argument("--workers", type=int, default=6)
    ap.add_argument("--cpus-per-worker", type=int, default=8)
    ap.add_argument("--xmx", default="14g")
    ap.add_argument("--compare-splits", type=int, default=6)
    ap.add_argument("--oracle-timeout", type=float, default=1800)
    ap.add_argument("--heavy-oracle-timeout", type=float, default=5400)
    ap.add_argument("--heavy-oracles", default="sim_recall_matrix")
    ap.add_argument("--engine-only", action="store_true")
    ap.add_argument("--compare-only", action="store_true")
    ap.add_argument("--no-commit", action="store_true")
    ap.add_argument("--dry-run", action="store_true")
    ap.add_argument("--daemon", action="store_true",
                    help="run the CurationJob daemon loop over the "
                         "scaled docs (graft.tools.DaemonSweep) and "
                         "commit DAEMON_SWEEP_rN.json instead of the "
                         "oracle sweep")
    ap.add_argument("--daemon-batches", type=int, default=10)
    args = ap.parse_args()
    if args.dry_run:
        dry_run()
        return
    t0 = time.time()
    cp = classpath()
    if not args.compare_only:
        make_scale(cp, args.sf_src, args.workdir, args.copies)
    if args.daemon:
        ddir = f"{args.workdir}_daemon"
        sh(["rm", "-rf", ddir])
        env = dict(os.environ, SPARK_GRAFT_CPUS="32")
        sh(["java", *JAVA_OPENS, "-Xmx48g", "-cp", cp,
            "graft.tools.DaemonSweep", args.workdir, ddir,
            str(args.daemon_batches)], env=env, cwd=REPO)
        payload = json.load(open(f"{ddir}/daemon_sweep.json"))
        flags = [k for k, v in payload.items() if v is False]
        relpath = f"DAEMON_SWEEP_{args.round}.json"
        if args.no_commit:
            with open(f"/tmp/{relpath}", "w") as f:
                json.dump(payload, f, indent=2, sort_keys=True)
            print(f"= artifact (uncommitted, --no-commit): /tmp/{relpath}")
        else:
            commit_artifact(
                REPO, relpath, payload,
                f"Daemon sweep {args.round}: CurationJob full gate stack "
                f"over {payload.get('n_docs')} scaled docs in "
                f"{payload.get('n_batches')} batches"
                + (f" — FAILED invariants: {flags}" if flags else
                   " — all invariants hold"))
        if flags:
            raise SystemExit(f"daemon sweep invariants FAILED: {flags}")
        print(f"= daemon sweep done at {time.time() - t0:.0f}s", flush=True)
        return
    os.makedirs(args.outdir, exist_ok=True)
    # oracle_sql.json is written by ANY Verify invocation; ensure it
    # exists by running one trivially-filtered worker first if needed
    osql = f"{args.outdir}/oracle_sql.json"
    if not os.path.exists(osql):
        env = dict(os.environ, SPARK_GRAFT_CPUS="4")
        sh(["java", *JAVA_OPENS, "-Xmx4g", "-cp", cp,
            "graft.Verify", args.workdir, args.outdir, "ns_filter"],
           env=env, cwd=REPO)
    names = sorted(json.load(open(osql)).keys())
    if not args.compare_only:
        run_engine(cp, args.workdir, args.outdir, names, args.workers,
                   args.cpus_per_worker, args.xmx)
        print(f"= engine done at {time.time() - t0:.0f}s", flush=True)
    if args.engine_only:
        return
    heavy = [h for h in args.heavy_oracles.split(",") if h]
    merged = run_compares(args.workdir, args.outdir, names,
                          args.compare_splits, args.oracle_timeout,
                          args.heavy_oracle_timeout, heavy)
    ok = sum(1 for r in merged.values() if r.get("hash_match"))
    exc = sum(1 for r in merged.values() if "excluded" in r)
    undecided = sorted(n for n, r in merged.items()
                       if not r.get("hash_match") and "excluded" not in r)
    print(f"== sweep: {ok}/{len(merged)} hash-green, {exc} expect-excluded, "
          f"undecided: {undecided}", flush=True)
    relpath = f"CORRECTNESS_SF10_{args.round}.json"
    if args.no_commit:
        with open(f"/tmp/{relpath}", "w") as f:
            json.dump(merged, f, indent=2, sort_keys=True)
        print(f"= artifact (uncommitted, --no-commit): /tmp/{relpath}")
    else:
        commit_artifact(
            REPO, relpath, merged,
            f"Scaled-decade correctness sweep {args.round}: "
            f"{ok}/{len(merged)} hash-green, {exc} expect-excluded")
    print(f"= total {time.time() - t0:.0f}s", flush=True)


if __name__ == "__main__":
    main()
