#!/usr/bin/env python3
"""Benchmark of the jobs users run through the package's command line.

Run from the repository root:

    python3 perfbench/run.py --workload kg_dense --seed 1 --seconds 14 --trace 0

Each workload generates its inputs from ``--seed``, starts a Spark session
the way the command line does, calls ``__main__.main`` with the arguments a
user would pass, checks the outputs, and prints one JSON line last:
``{"correct", "attempted", "failed", "metrics"}``.  ``--trace 0`` reports
the end-to-end metrics; ``--trace 1`` adds a traced pass that calls every
layer's public functions under its own job group and reports the per-layer
metrics instead.  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import contextlib
import io
import json
import os
import platform
import shutil
import statistics
import sys
import tempfile
import threading
import time

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [ROOT, HERE]

import inputs  # noqa: E402  (imports the package: fails fast outside the repo)
import layertrace as tr  # noqa: E402
from named_entity_discovery_and_linking_spark import __main__ as cli  # noqa: E402

# Input sizes.  Each run must finish well inside 180 s on a 4-core host:
# the command-line job pays ~100 Spark jobs of fixed cost, so sizes are set
# where the per-row work is still a visible share of the job.
WORKLOADS = {
    "kg_dense": {"kind": "kg", "pages": "dense", "n": 200, "kb_extra": 0},
    "kg_sparse": {"kind": "kg", "pages": "sparse", "n": 200, "kb_extra": 0},
    "curate": {"kind": "curate", "n": 1000, "kb_extra": 0},
    # link_probe's pages only feed the traced pass
    "link_probe": {"kind": "probe", "pages": "dense", "n": 200, "calls": 12,
                   "kb_extra": 20000},
}
N_SETUPS = 3
OP_TIMEOUT_S = 120.0
TRACE_BUCKETS = 8


def _host_info(seed: int, sizes: dict) -> dict:
    import pyarrow
    import pyspark

    return {"nproc": len(os.sched_getaffinity(0)), "spark": pyspark.__version__,
            "pyarrow": pyarrow.__version__, "python": platform.python_version(),
            "seed": seed, **sizes}


def _log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ------------------------------------------------------------- resources

class RssSampler(threading.Thread):
    """Peak summed resident memory of this process's descendants (the
    driver JVM and its Python workers), sampled every 0.25 s."""

    def __init__(self):
        super().__init__(daemon=True)
        self.peak = 0
        self._stop_ev = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _descendants(self) -> list[int]:
        kids: dict[int, list[int]] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            kids.setdefault(ppid, []).append(int(d))
        out, todo = [], [os.getpid()]
        while todo:
            for c in kids.get(todo.pop(), []):
                out.append(c)
                todo.append(c)
        return out

    def sample(self) -> int:
        total = 0
        for pid in self._descendants():
            try:
                with open(f"/proc/{pid}/statm") as fh:
                    total += int(fh.read().split()[1]) * self._page
            except (OSError, IndexError, ValueError):
                continue
        return total

    def run(self):
        while not self._stop_ev.is_set():
            self.peak = max(self.peak, self.sample())
            self._stop_ev.wait(0.25)

    def stop(self) -> float:
        self._stop_ev.set()
        self.join(5)
        return self.peak / 2**20


def timed_call(sc, group: str, fn, timeout: float = OP_TIMEOUT_S):
    """Run ``fn`` under job group ``group``; a watchdog cancels the group's
    jobs after ``timeout`` s.  Returns (wall_s, value, error_class|None)."""
    fired = threading.Event()

    def fire():
        fired.set()
        sc.cancelJobGroup(group)

    timer = threading.Timer(timeout, fire)
    sc.setJobGroup(group, group)
    timer.start()
    t0 = time.perf_counter()
    try:
        value, err = fn(), None
    except Exception as exc:  # noqa: BLE001 - every failure is counted, by class
        value, err = None, "TimeoutError" if fired.is_set() else tr.error_class(exc)
    finally:
        timer.cancel()
    return time.perf_counter() - t0, value, err


def _quiet(fn, *args):
    """Call ``fn`` with the program's stdout captured (the last stdout
    line of this benchmark must be its JSON result)."""
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        fn(*args)
    return buf.getvalue()


# ----------------------------------------------------------------- inputs

def make_inputs(name: str, seed: int, work: str) -> dict:
    wl = WORKLOADS[name]
    paths = {"entities": os.path.join(work, "entities.tab"),
             "aliases": os.path.join(work, "alternate_names.tab"),
             "pages": os.path.join(work, "pages.parquet"),
             "bench": os.path.join(work, "benchmark.parquet")}
    ents, aliases = inputs.kb_rows(seed, wl["kb_extra"])
    inputs.write_kb(ents, aliases, paths["entities"], paths["aliases"])
    bench = inputs.benchmark_items(seed)
    inputs.write_benchmark(bench, paths["bench"])
    inp = {"paths": paths, "sizes": {"kb_entities": len(ents), "kb_aliases": len(aliases)}}
    if wl["kind"] == "curate":
        docs, inp["labels"] = inputs.curate_docs(seed, wl["n"], bench)
        inputs.write_docs(docs, paths["pages"])
        inp["sizes"]["docs"] = len(docs)
        inp["id_col"] = "doc_id"
    else:
        gen = inputs.dense_pages if wl["pages"] == "dense" else inputs.sparse_pages
        rows = gen(seed, wl["n"])
        inputs.write_pages(rows, paths["pages"])
        inp["sizes"]["docs"] = len(rows)
        inp["sizes"]["text_bytes"] = sum(len(r["text"]) for r in rows)
        inp["id_col"] = "url"
    if wl["kind"] == "probe":
        inp["calls"] = inputs.probe_batches(seed, ents, wl["calls"])
        # names that survive the KB cleaning rule (operators.linking.clean_kb:
        # GEO rows need an RU/UA country or a wiki link)
        inp["kb_names"] = {e[3] for e in ents
                           if e[0] != "GEO" or e[4] in ("RU", "UA") or e[6]}
        inp["sizes"]["probe_calls"] = len(inp["calls"])
    return inp


# -------------------------------------------------------------- sessions

def start_session(work: str, trace: bool):
    from named_entity_discovery_and_linking_spark.session import default_parallelism, get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
    }
    if trace:
        os.makedirs(os.path.join(work, "eventlog"), exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false",
                     "spark.eventLog.dir": os.path.join(work, "eventlog")})
    spark = get_spark("perfbench", master=f"local[{default_parallelism()}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop the session and its JVM, and wait for the JVM to exit, so the
    next ``start_session`` pays a full set-up."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    gateway.proc.stdin.close()  # the JVM exits when its stdin closes
    gateway.proc.wait(60)
    SparkContext._gateway = SparkContext._jvm = None


# ------------------------------------------------------------ operations

def cli_argv(name: str, inp: dict, out: str) -> list[str]:
    p = inp["paths"]
    if WORKLOADS[name]["kind"] == "curate":
        return ["--curate", "--pages", p["pages"], "--out", out,
                "--benchmark", p["bench"], "--sample-rate", str(inputs.SAMPLE_RATE)]
    return ["--pages", p["pages"], "--out", out,
            "--kb", p["entities"], "--aliases", p["aliases"]]


def probe_argv(inp: dict, call) -> list[str]:
    argv = []
    for name, typ in call:
        argv += ["--query", name, typ]
    return argv + ["--kb", inp["paths"]["entities"], "--aliases", inp["paths"]["aliases"]]


def _mat_dirs(tmp: str) -> set[str]:
    return {d for d in os.listdir(tmp) if d.startswith("ndl-mat-")}


def run_op(spark, name: str, inp: dict, work: str, tag: str, call=None) -> dict:
    """One command-line job, timed, with its failure (if any) by class."""
    tmp = os.path.join(work, "tmp")
    out = os.path.join(work, tag)
    argv = probe_argv(inp, call) if call else cli_argv(name, inp, out)
    before = _mat_dirs(tmp)
    wall, stdout, err = timed_call(spark.sparkContext, f"perfbench:{tag}",
                                   lambda: _quiet(cli.main, argv))
    spill = sum(tr.dir_bytes(os.path.join(tmp, d)) for d in _mat_dirs(tmp) - before)
    _log(f"{tag}: {wall:.3f} s" + (f" FAILED {err}" if err else ""))
    return {"wall_s": wall, "out": out, "stdout": stdout, "error": err,
            "call": call, "spill_bytes": spill}


def measure(spark, name: str, inp: dict, work: str, seconds: float, t_proc: float):
    """Closed loop, one client: run the workload's operation until
    ``seconds`` have passed (at least once).  Returns the ops and their peak
    resident memory."""
    calls = inp.get("calls")
    ops = []
    rss = RssSampler()
    rss.start()
    t_end = time.perf_counter() + seconds
    while True:
        n = len(ops)
        ops.append(run_op(spark, name, inp, work, f"op{n}",
                          calls[n % len(calls)] if calls else None))
        now = time.perf_counter()
        # stop at the deadline, or early if another op could pass 150 s
        if now >= t_end or (now - t_proc) + ops[-1]["wall_s"] > 150:
            break
    return ops, rss.stop()


# ------------------------------------------------------------------ checks

def _tag(op: dict) -> str:
    return os.path.basename(op["out"])


def triple_set(rows) -> set:
    return {(r["subj"], r["pred"], r["obj"],
             None if r["conf"] is None else round(r["conf"], 6),
             r["url"], r["char_begin"], r["char_end"]) for r in rows}


def reference_triples(spark, inp: dict):
    """The untraced reference composition:
    discover_mentions -> link_mentions -> build_graph."""
    from named_entity_discovery_and_linking_spark.operators.linking import link_mentions
    from named_entity_discovery_and_linking_spark.operators.mentions import discover_mentions
    from named_entity_discovery_and_linking_spark.plans.graph import build_graph
    from named_entity_discovery_and_linking_spark.sources.kb_tsv import (
        load_aliases_tab,
        load_entities_tab,
    )

    p = inp["paths"]
    kb = load_entities_tab(spark, p["entities"])
    al = load_aliases_tab(spark, p["aliases"])
    m = discover_mentions(spark.read.parquet(p["pages"])).localCheckpoint()
    links = link_mentions(m, kb, al).localCheckpoint()
    triples, _nodes, _edges = build_graph(m, links)
    return triple_set(triples.collect())


def check_kg(spark, ops, expected: set) -> list[str]:
    problems = []
    for op in ops:
        if op["error"]:
            continue
        got = triple_set(spark.read.parquet(os.path.join(op["out"], "triples")).collect())
        if got != expected:
            problems.append(f"{_tag(op)}: {len(got - expected)} unexpected and "
                            f"{len(expected - got)} missing triples of {len(expected)}")
        op["rows_out"] = len(got)
    if not expected:
        problems.append("reference run produced no triples")
    return problems


def check_curate(spark, ops, labels: dict) -> list[str]:
    problems = []
    for op in ops:
        if op["error"]:
            continue
        rows = spark.read.parquet(os.path.join(op["out"], "curation_flags")).select(
            "doc_id", "drop_stage", "n_lines", "n_kept").collect()
        bad = 0
        for r in rows:
            stage, cut = labels.get(r["doc_id"], (None, None))
            got_cut = -1 if r["n_lines"] == -1 else r["n_lines"] - r["n_kept"]
            bad += stage != r["drop_stage"] or cut != got_cut
        if bad or len(rows) != len(labels):
            problems.append(f"{_tag(op)}: {bad} docs off their planted funnel stage, "
                            f"{len(rows)} flag rows for {len(labels)} docs")
        op["rows_out"] = sum(r["drop_stage"] == "kept" for r in rows)
    return problems


def _probe_rows(stdout: str) -> list[tuple]:
    return sorted(tuple(ln.split("\t")) for ln in stdout.splitlines() if "\t" in ln)


def check_probe(ops, warm: dict, kb_names: set) -> list[str]:
    """Repeats of the warm-up call return its rows; an exact KB name ranks
    a candidate of that name."""
    problems = []
    for op in ops:
        if op["error"]:
            continue
        rows = _probe_rows(op["stdout"])
        if op["call"] == warm["call"] and not warm["error"] and rows != _probe_rows(warm["stdout"]):
            problems.append(f"{_tag(op)}: rows differ from the warm-up call")
        for name, _typ in op["call"]:
            if name in kb_names and not any(len(r) > 3 and r[0] == r[3] == name for r in rows):
                problems.append(f"{_tag(op)}: exact probe {name!r} ranks no candidate named so")
        op["rows_out"] = len(rows)
    return problems


# ------------------------------------------------------------- traced pass

def traced_pass(spark, tracer, inp: dict, work: str) -> dict:
    """Every layer's public functions, each call in its own span, with the
    output forced at the span's end so the layer's jobs run inside it.
    Returns the reference triples and the layer-side ratios."""
    with tracer.span("trace"):  # the root: every layer span's parent
        return _layer_calls(spark, tracer, inp, work)


def _layer_calls(spark, tracer, inp: dict, work: str) -> dict:
    from pyspark.sql import functions as F

    from named_entity_discovery_and_linking_spark.operators.canonicalize import (
        canonical_entities,
        cluster_mentions,
    )
    from named_entity_discovery_and_linking_spark.operators.dedup import (
        decontaminate,
        dedup_clusters,
        ngram_jaccard_pairs,
    )
    from named_entity_discovery_and_linking_spark.operators.linking import (
        build_alias_table,
        clean_kb,
        link_mentions,
    )
    from named_entity_discovery_and_linking_spark.operators.mentions import discover_mentions
    from named_entity_discovery_and_linking_spark.operators.sampling import hash_sample
    from named_entity_discovery_and_linking_spark.operators.textstats import gopher_filter
    from named_entity_discovery_and_linking_spark.operators.webcure import line_dedup, url_dedup
    from named_entity_discovery_and_linking_spark.plans.graph import build_graph
    from named_entity_discovery_and_linking_spark.plans.lineage import run_stage
    from named_entity_discovery_and_linking_spark.sources.io import write_table
    from named_entity_discovery_and_linking_spark.sources.kb_tsv import (
        load_aliases_tab,
        load_entities_tab,
    )

    p = inp["paths"]
    out = os.path.join(work, "traced")
    ckpt = lambda df: df.localCheckpoint()  # noqa: E731
    pages = tracer.aside(lambda: spark.read.parquet(p["pages"]))
    kb, al = tracer.layer("kb_tsv.load", lambda: (
        ckpt(load_entities_tab(spark, p["entities"])),
        ckpt(load_aliases_tab(spark, p["aliases"]))), rows=lambda r: r[0].count() + r[1].count())
    m = tracer.layer("mentions", lambda: ckpt(discover_mentions(pages)))
    tracer.layer("lineage", lambda: run_stage(
        spark, pages, "mentions", discover_mentions, out, os.path.join(out, "_lineage"),
        TRACE_BUCKETS))
    alias = tracer.layer("linking.alias", lambda: ckpt(build_alias_table(clean_kb(kb), al)))
    links = tracer.layer("linking", lambda: ckpt(
        link_mentions(m, kb, al, prebuilt_alias_table=alias)))

    def canonicalize():
        clusters = ckpt(cluster_mentions(m, links))
        ckpt(canonical_entities(clusters, links, m))
        return clusters

    tracer.layer("canonicalize", canonicalize)

    def graph():  # build_graph runs its own canonicalize calls inside
        triples, nodes, edges = build_graph(m, links)
        return ckpt(triples), nodes, edges

    triples, nodes, edges = tracer.layer("graph", graph, rows=lambda r: r[0].count())

    def io_write():
        tables = {"triples": triples, "nodes": nodes, "edges": edges}
        for tbl, df in tables.items():
            write_table(df, os.path.join(out, "tables", tbl))
        return tables

    tracer.layer("io.write", io_write, rows=lambda t: sum(df.count() for df in t.values()))
    n_nam = tracer.count(m.filter(F.col("category") == "NAM"))
    n_linked = tracer.count(links.select("mid").distinct())
    n_links = tracer.count(links)
    expected = triple_set(tracer.aside(triples.collect))

    ic, ts = inp["id_col"], "warc_ts"
    bench = tracer.aside(lambda: spark.read.parquet(p["bench"]))
    keep = tracer.layer("webcure.url_dedup", lambda: ckpt(
        url_dedup(pages, id_col=ic, url_col="url", ts_col=ts)))
    d1 = pages.join(keep.select(F.col("keep_id").alias(ic)), ic)
    ld = tracer.layer("webcure.line_dedup", lambda: ckpt(
        line_dedup(d1, id_col=ic, text_col="text")))
    d2 = d1.drop("text").join(ld.select(ic, F.col("text_clean").alias("text")), ic)
    g = tracer.layer("textstats.gopher", lambda: ckpt(gopher_filter(d2, id_col=ic, text_col="text")))
    d3 = tracer.aside(lambda: ckpt(d2.join(g.filter("keep").select(ic), ic)))
    tracer.layer("dedup.pairs", lambda: ckpt(
        ngram_jaccard_pairs(d3, 0.6, id_col=ic, text_col="text")))
    cl = tracer.layer("dedup.clusters", lambda: ckpt(
        dedup_clusters(d3, 0.6, id_col=ic, text_col="text")))
    d4 = d3.join(cl.filter("is_canonical").select(ic), ic)
    dec = tracer.layer("dedup.decontaminate", lambda: ckpt(
        decontaminate(d4, bench, 8, id_col=ic, text_col="text")))
    d5 = d4.join(dec.filter(~F.col("contaminated")).select(ic), ic)
    tracer.layer("sampling", lambda: ckpt(hash_sample(d5, inputs.SAMPLE_RATE, key_col=ic)))
    return {
        "expected": expected,
        "linking.link_rate": n_linked / n_nam if n_nam else 0.0,
        "linking.cands_per_mention": n_links / n_linked if n_linked else 0.0,
        "io.write.bytes": tr.dir_bytes(os.path.join(out, "tables")),
    }


# -------------------------------------------------------------------- run

def _declared(kind: str) -> dict[str, str]:
    """Metric name -> unit as BENCHMARK.json declares them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"] for m in spec[kind]}


def run(name: str, seed: int, seconds: float, trace: bool, work: str) -> dict:
    t_proc = time.perf_counter()
    kind = WORKLOADS[name]["kind"]
    t0 = time.perf_counter()
    inp = make_inputs(name, seed, work)
    info = _host_info(seed, inp["sizes"])
    info["input_gen_s"] = time.perf_counter() - t0
    _log(f"inputs {json.dumps(info, sort_keys=True)}")

    setups, spark = [], None
    for _ in range(N_SETUPS):  # session start + package ship (the first
        if spark is not None:  # also launches the JVM)
            spark.stop()
        t0 = time.perf_counter()
        spark = start_session(work, trace)
        setups.append(time.perf_counter() - t0)
    _log("setups " + " ".join(f"{s:.3f}" for s in setups))

    problems: list[str] = []
    try:
        calls = inp.get("calls")
        warm = run_op(spark, name, inp, work, "warmup", calls[0] if calls else None)
        ops, peak_mb = measure(spark, name, inp, work, seconds, t_proc)
        if kind == "kg":
            spark.sparkContext.setJobGroup("perfbench:reference", "reference")
            expected = reference_triples(spark, inp)
        if trace:
            tracer = tr.Tracer(spark, f"trace-{name}-{seed}")
            side = traced_pass(spark, tracer, inp, work)
            tracer.collect_counts()
            if kind == "kg" and side["expected"] != expected:
                problems.append("the traced layer pass and the reference run disagree")
        checked = [warm] + ops
        if kind == "kg":
            problems += check_kg(spark, checked, expected)
        elif kind == "curate":
            problems += check_curate(spark, checked, inp["labels"])
        else:
            problems += check_probe(checked, warm, inp["kb_names"])
        app_id = spark.sparkContext.applicationId
    finally:
        stop_session(spark)

    attempted = len(ops)
    failed = sum(1 for op in ops if op["error"])
    ok_walls = [op["wall_s"] for op in ops if not op["error"]]
    if not ok_walls:
        problems.append("no operation succeeded")
    if trace:
        jobs = tr.read_event_log(os.path.join(work, "eventlog"), app_id)
        layer = tr.layer_metrics(tracer.spans, jobs)
        layer.update({k: v for k, v in side.items() if k != "expected"})
        layer["lineage.overhead_s"] = layer["lineage.wall_s"] - layer["mentions.wall_s"]
        layer["session.materialize.spill_bytes"] = statistics.median(
            op["spill_bytes"] for op in ops)
        layer["session.peak_rss_mb"] = peak_mb
        layer["trace.job_s"] = statistics.median(ok_walls) if ok_walls else 0.0
        layer["trace.jobs_total"] = sum(len(s["job_ids"]) for s in tracer.spans)
        layer["trace.layer_failures"] = sum(1 for sp in tracer.spans if sp.get("error"))
        stray = tr.unattributed_jobs(tracer.spans, jobs, tracer.run_id)
        if stray:
            problems.append(f"jobs (id, group) {stray} ran inside the traced window "
                            "outside every span")
        _write_trace(name, seed, tracer, layer, info)
        _print_layer_table(layer, tracer.spans)

    for p in problems:
        _log(f"CHECK FAILED: {p}")
    job_s = statistics.median(ok_walls) if ok_walls else float("nan")
    if ok_walls and kind == "kg":
        rows = statistics.median(op["rows_out"] for op in ops if not op["error"])
        _log(f"triples_per_s {rows / job_s:.2f} ({rows} triples per job)")
    if kind == "probe":
        _log(f"probe walls {sorted(round(w, 3) for w in ok_walls)}; failures "
             f"{[op['error'] for op in ops if op['error']]}")
    _log(f"peak_rss_mb {peak_mb:.1f}")
    per_op = statistics.mean(len(c) for c in inp["calls"]) if kind == "probe" else info["docs"]
    values = layer if trace else {
        "setup_s": statistics.median(setups) + warm["wall_s"],
        "job_s": job_s,
        "docs_per_s": per_op / job_s,
        "success_rate": (attempted - failed) / attempted,
    }
    units = _declared("per_layer" if trace else "end_to_end")
    if set(values) != set(units):
        raise RuntimeError(f"metric names differ from BENCHMARK.json: "
                           f"{sorted(set(values) ^ set(units))}")
    return {"correct": not problems, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": float(values[k]), "unit": units[k]} for k in units}}


def _write_trace(name: str, seed: int, tracer, layer: dict, info: dict) -> None:
    out_dir = os.path.join(ROOT, ".perfbench_results")
    os.makedirs(out_dir, exist_ok=True)
    base = os.path.join(out_dir, f"{name}-seed{seed}-{os.getpid()}")
    tracer.write(base + ".spans.jsonl")
    with open(base + ".layers.json", "w") as fh:
        json.dump({"info": info, "layers": layer}, fh, indent=1, sort_keys=True)


def _print_layer_table(layer: dict, spans: list[dict]) -> None:
    _log(f"{'layer':22s} {'wall_s':>8s} {'jobs':>5s} {'stages':>6s} {'rows_out':>9s}")
    for name in tr.LAYERS:
        _log(f"{name:22s} {layer[name + '.wall_s']:8.3f} {layer[name + '.jobs']:5.0f} "
             f"{layer[name + '.stages']:6.0f} {layer[name + '.rows_out']:9.0f}")
    _log(f"summed jobs {layer['trace.jobs_total']:.0f}; CLI job with tracing on "
         f"{layer['trace.job_s']:.3f} s (tracing overhead = this minus the "
         f"untraced runs' job_s)")
    for sp in spans:
        if sp.get("error"):
            _log(f"layer {sp['name']} FAILED {sp['error']}")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # fresh per-run scratch: the program's spills (TMPDIR), Spark's local
    # dirs and the package zip all land here and go away with it
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_DRIVER_MEM"] = "3g"
    tempfile.tempdir = None  # re-read TMPDIR
    try:
        result = run(args.workload, args.seed, args.seconds, bool(args.trace), work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
