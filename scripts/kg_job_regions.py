"""Per-region wall, Spark jobs and PythonRDD-backed jobs of the CLI kg job.

Runs the batch KG job the way users call it (``__main__.main --pages P
--out O --kb … --aliases …``) on the ``kg_dense`` benchmark input
(``perfbench/inputs.py``: 200 entity-dense pages, the fixture KB), in one
warm driver session: one untimed warm-up job, then ``--jobs`` measured
ones.  Each measured job is split into regions by wrapping the functions
the CLI calls (wall time is exclusive of nested regions):

  mentions   run_stage("mentions", discover_mentions), minus bookkeeping
  lineage    completed_buckets + mark_done inside every run_stage
  linking    link_mentions_resumable (its own run_stage included)
  graph      build_graph (lazy: most of its work runs under io.write)
  io.write   the CLI's write_table calls (links, triples, nodes, edges)
  cli        the rest: KB load, checkpoints, the final count

Jobs and PythonRDD jobs (a job whose stages read an RDD named
``PythonRDD``, i.e. that starts Python worker tasks to feed it) come from
the Spark event log, by a ``ndl.region`` local property.

  # one tree, one session
  python scripts/kg_job_regions.py run REPO_DIR --seed 1 --jobs 6
  # interleaved A/B: SETS sessions per tree, alternating which goes first
  python scripts/kg_job_regions.py ab A_DIR B_DIR --sets 4 --jobs 6 --seed 1

``run`` prints one JSON line; ``ab`` prints per-set job medians, the
per-region table of both trees (medians over all measured jobs) and a JSON
line.  Sessions run on ``local[SPARK_GRAFT_CPUS or nproc]`` with a 3g
driver, as the benchmark runs them.
"""

from __future__ import annotations

import argparse
import contextlib
import glob
import io
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REGIONS = ("mentions", "lineage", "linking", "graph", "io.write", "cli")


class _Regions:
    """Exclusive wall time per region, with the region published to Spark
    as the ``ndl.region`` local property of the jobs it starts."""

    def __init__(self, sc):
        self.sc = sc
        self.stack: list[list] = []  # [name, t_enter, t_in_children]
        self.wall = dict.fromkeys(REGIONS, 0.0)

    @contextlib.contextmanager
    def region(self, name: str):
        self.stack.append([name, time.perf_counter(), 0.0])
        self.sc.setLocalProperty("ndl.region", name)
        try:
            yield
        finally:
            _, t0, inner = self.stack.pop()
            dt = time.perf_counter() - t0
            self.wall[name] += dt - inner
            if self.stack:
                self.stack[-1][2] += dt
            self.sc.setLocalProperty("ndl.region", self.stack[-1][0] if self.stack else "cli")

    def wrap(self, module, attr: str, name_of):
        fn = getattr(module, attr)

        def wrapped(*a, **kw):
            name = name_of(*a, **kw)
            if name is None:
                return fn(*a, **kw)
            with self.region(name):
                return fn(*a, **kw)

        setattr(module, attr, wrapped)


def _job_records(log_dir: str) -> list[dict]:
    """Job tag, region and whether it reads a PythonRDD, per event-log job."""
    path = [p for p in glob.glob(os.path.join(log_dir, "*")) if not p.endswith(".inprogress")][0]
    jobs = []
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            if ev.get("Event") != "SparkListenerJobStart":
                continue
            props = ev.get("Properties") or {}
            rdds = {r.get("Name") for s in ev.get("Stage Infos", []) for r in s.get("RDD Info", [])}
            jobs.append({"job": props.get("ndl.job"), "region": props.get("ndl.region", "cli"),
                         "python_rdd": "PythonRDD" in rdds})
    return jobs


def run_tree(repo: str, seed: int, n_jobs: int, work: str) -> dict:
    sys.path.insert(0, repo)
    sys.path.insert(1, os.path.join(HERE, "..", "perfbench"))
    os.environ.setdefault("SPARK_DRIVER_MEM", "3g")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)
    tempfile.tempdir = None
    import inputs  # perfbench's seeded generators

    from named_entity_discovery_and_linking_spark import __main__ as cli
    from named_entity_discovery_and_linking_spark.operators import linking
    from named_entity_discovery_and_linking_spark.plans import graph, lineage
    from named_entity_discovery_and_linking_spark.session import get_spark
    from named_entity_discovery_and_linking_spark.sources import io as sio

    paths = {k: os.path.join(work, f) for k, f in
             (("entities", "entities.tab"), ("aliases", "alternate_names.tab"),
              ("pages", "pages.parquet"))}
    inputs.write_kb(*inputs.kb_rows(seed, 0), paths["entities"], paths["aliases"])
    inputs.write_pages(inputs.dense_pages(seed, 200), paths["pages"])

    log_dir = os.path.join(work, "eventlog")
    os.makedirs(log_dir)
    spark = get_spark("kg-job-regions", extra_conf={
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.eventLog.enabled": "true", "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
        "spark.eventLog.dir": log_dir,
    })
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    reg = _Regions(sc)
    reg.wrap(lineage, "run_stage",
             lambda *a, **kw: "mentions" if (a[2] if len(a) > 2 else kw["stage"]) == "mentions" else None)
    reg.wrap(lineage, "completed_buckets", lambda *a, **kw: "lineage")
    reg.wrap(lineage, "mark_done", lambda *a, **kw: "lineage")
    reg.wrap(linking, "link_mentions_resumable", lambda *a, **kw: "linking")
    reg.wrap(graph, "build_graph", lambda *a, **kw: "graph")
    reg.wrap(sio, "write_table", lambda *a, **kw: "io.write")

    walls = []
    for i in range(n_jobs + 1):  # job 0 is the warm-up
        out = os.path.join(work, f"out{i}")
        argv = ["--pages", paths["pages"], "--out", out,
                "--kb", paths["entities"], "--aliases", paths["aliases"]]
        reg.wall = dict.fromkeys(REGIONS, 0.0)
        sc.setLocalProperty("ndl.job", str(i))
        t0 = time.perf_counter()
        with reg.region("cli"), contextlib.redirect_stdout(io.StringIO()):
            cli.main(argv)
        walls.append((time.perf_counter() - t0, dict(reg.wall)))
        shutil.rmtree(out, ignore_errors=True)
    spark.stop()

    records = _job_records(log_dir)
    result = []
    for i, (wall, region_wall) in enumerate(walls[1:], start=1):
        mine = [r for r in records if r["job"] == str(i)]
        result.append({
            "wall_s": round(wall, 3), "jobs": len(mine),
            "python_rdd_jobs": sum(r["python_rdd"] for r in mine),
            "regions": {
                name: {"wall_s": round(region_wall[name], 3),
                       "jobs": sum(r["region"] == name for r in mine),
                       "python_rdd_jobs": sum(r["region"] == name and r["python_rdd"] for r in mine)}
                for name in REGIONS
            },
        })
    return {"tree": repo, "seed": seed, "jobs": result}


def _child(repo: str, seed: int, n_jobs: int) -> dict:
    res = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "run", repo, "--seed", str(seed),
         "--jobs", str(n_jobs)],
        capture_output=True, text=True, timeout=1800, cwd=tempfile.gettempdir(),
    )
    if res.returncode != 0:
        raise RuntimeError(f"{repo}: exit {res.returncode}\n{res.stderr[-3000:]}")
    return json.loads(res.stdout.strip().splitlines()[-1])


def ab(a: str, b: str, sets: int, n_jobs: int, seed: int) -> dict:
    runs = {"A": [], "B": []}
    for s in range(sets):
        order = ("A", "B") if s % 2 == 0 else ("B", "A")
        for side in order:
            r = _child(a if side == "A" else b, seed, n_jobs)
            runs[side].append(r)
            med = statistics.median(j["wall_s"] for j in r["jobs"])
            print(f"set {s} {side}: median job {med:.3f} s, "
                  f"jobs {[j['jobs'] for j in r['jobs']]}", file=sys.stderr)

    def med(side, key, region=None):
        vals = [(j["regions"][region] if region else j)[key] for r in runs[side] for j in r["jobs"]]
        return statistics.median(vals)

    table = {side: {name: {k: med(side, k, name) for k in ("wall_s", "jobs", "python_rdd_jobs")}
                    for name in REGIONS} for side in runs}
    for side in runs:
        table[side]["total"] = {k: med(side, k) for k in ("wall_s", "jobs", "python_rdd_jobs")}
    print("| region | A wall s | B wall s | A jobs | B jobs | A PythonRDD jobs | B PythonRDD jobs |")
    print("|---|---|---|---|---|---|---|")
    for name in (*REGIONS, "total"):
        ta, tb = table["A"][name], table["B"][name]
        print(f"| {name} | {ta['wall_s']:.2f} | {tb['wall_s']:.2f} | {ta['jobs']:g} | {tb['jobs']:g} "
              f"| {ta['python_rdd_jobs']:g} | {tb['python_rdd_jobs']:g} |")
    set_medians = {side: [statistics.median(j["wall_s"] for j in r["jobs"]) for r in runs[side]]
                   for side in runs}
    return {"A": a, "B": b, "seed": seed, "sets": sets, "jobs_per_set": n_jobs,
            "set_median_job_s": set_medians, "median_by_region": table}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    sub = ap.add_subparsers(dest="mode", required=True)
    r = sub.add_parser("run")
    r.add_argument("repo")
    x = sub.add_parser("ab")
    x.add_argument("a")
    x.add_argument("b")
    x.add_argument("--sets", type=int, default=4)
    for p in (r, x):
        p.add_argument("--seed", type=int, default=1)
        p.add_argument("--jobs", type=int, default=6)
    args = ap.parse_args(argv)
    if args.mode == "ab":
        print(json.dumps(ab(os.path.abspath(args.a), os.path.abspath(args.b),
                            args.sets, args.jobs, args.seed)))
        return 0
    work = tempfile.mkdtemp(prefix="kg-regions-")
    try:
        print(json.dumps(run_tree(os.path.abspath(args.repo), args.seed, args.jobs, work)))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
