"""Literature-pipeline benchmark.

    python3 perfbench/run.py --workload grounding_heavy --seed 1 --seconds 30 --trace 0

One run is one fresh process: it starts a Spark session on
``local[<cpus>]``, generates the workload's inputs from ``--seed``, runs the
workload's steps once, each invoked on its own through ``main.run_all``
the way production deploys them, checks the outputs and prints one JSON
result as the last line of standard output.

The pass runs in the cold JVM, as every production step does, so a run
measures exactly one pass; the workloads are sized so that the pass
takes about ``--seconds`` on an idle 4-core VM.  Repeatability comes
from many such processes (one per seed) and the medians taken across
them.

* ``--trace 0`` prints the end-to-end metrics.  Set-up and the pass are
  measured in CPU seconds (this process, its JVM and the JVM's Python
  workers): on a shared VM, hypervisor steal moves wall time by half
  between runs of identical work.  Wall times, throughput and the steal
  share of the pass are on the ``detail`` line.
* ``--trace 1`` prints the per-layer metrics of one traced pass
  (tracing.py) and its wall as ``trace.wall_s``: ``trace.wall_s`` minus
  the pass wall of untraced runs of the same workload is the traced-plan
  overhead.  Spans are written to
  ``.perfbench_work/spans-<workload>-<seed>.json``.

Every run also compares its processing digest with earlier runs of the
same inputs and program, traced or not (``.perfbench_work/digests.json``,
keyed by workload, seed, generator parameters and a hash of the program
and generator sources).  Everything a run writes stays under
``.perfbench_work/`` in the checkout; the per-run data directory is
removed at exit.
"""

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from dataclasses import dataclass  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench_work"


@dataclass(frozen=True)
class Workload:
    why: str
    params: dict
    steps: tuple[str, ...]


# No workload runs all four steps from raw JSON: every step pays its
# cold-JVM cost (45-50 s for the four on an idle 4-core VM, whatever the
# corpus size, and up to 1.5 times that under hypervisor steal), and the
# run budget (48 runs of two workloads in 57 minutes) leaves about 70 s a
# run.  Each workload runs the steps its case needs, and each is the
# control for the other's layers (see README.md).  Corpora are small for
# the same reason: above the cold cost, time grows by about 1 ms per
# publication.
WORKLOADS = {
    "grounding_heavy": Workload(
        why="processing only: large catalogue with many synonyms, low label reuse, "
        "planted ambiguous and unmatched labels, so LUT building, stemming, "
        "label dedup and disambiguation dominate",
        params=dict(pubs=400, diseases=400, targets=400, drugs=100, synonyms=5,
                    zipf=0.0, name_share=0.0, sentences=3, mentions=4,
                    unmatched=0.15, ambiguous=0.08, long_text=0.3),
        steps=("processing",),
    ),
    "evidence_from_files": Workload(
        why="embedding, vectors and evidence over generated matches/cooccurrences "
        "files: wide vocabulary and hub publications, so Word2Vec and the DSxGP "
        "self-join dominate and grounding is bypassed",
        params=dict(pubs=600, diseases=400, targets=400, drugs=100, synonyms=3,
                    zipf=0.5, name_share=0.5, sentences=3, mentions=4,
                    unmatched=0.05, ambiguous=0.03, long_text=0.3,
                    hubs=3, hub_mentions=80, intermediates=True),
        steps=("embedding", "vectors", "evidence"),
    ),
}


def pin_environment(work: Path) -> dict:
    """Pin the session's sizing to this box and keep scratch files in the
    checkout.  Returns the pinned values."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        mem_mb = int(fh.readline().split()[1]) // 1024
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        # the session default (48g) is larger than most boxes; a small
        # heap also keeps the JVM's peak RSS from following G1's
        # heap-growth heuristics as far (spread 0.14 at 768m, 0.2 at 2g)
        "SPARK_GRAFT_DRIVER_MEM": f"{min(768, mem_mb // 4)}m",
        "SPARK_LOCAL_DIRS": str(tmp),
        "TMPDIR": str(tmp),
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    os.environ.update(env)
    return env


def java_children() -> list[int]:
    me = str(os.getpid())
    out = []
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
            with open(f"/proc/{pid}/comm") as fh:
                comm = fh.read().strip()
        except OSError:
            continue
        if fields[1] == me and comm == "java":
            out.append(int(pid))
    return out


def descendants(root: int) -> list[int]:
    kids: dict[str, list[str]] = {}
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                kids.setdefault(fh.read().rsplit(")", 1)[1].split()[1], []).append(pid)
        except OSError:
            continue
    out, todo = [], [str(root)]
    while todo:
        for k in kids.get(todo.pop(), []):
            out.append(int(k))
            todo.append(k)
    return out


def cpu_s() -> float:
    """CPU seconds used so far by this process, its JVM and the JVM's
    Python workers (reaped children included through cutime/cstime)."""
    pids = [os.getpid()] + [p for j in java_children() for p in [j] + descendants(j)]
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/stat") as fh:
                total += sum(map(int, fh.read().rsplit(")", 1)[1].split()[11:15]))
        except OSError:
            continue
    return total / os.sysconf("SC_CLK_TCK")


def steal_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies of the machine so far, from /proc/stat."""
    with open("/proc/stat") as fh:
        fields = list(map(int, fh.readline().split()[1:]))
    return fields[7], sum(fields[:8])


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def stop_spark(spark) -> None:
    """Stop the session, then the JVM and its Python workers, and wait
    for each to end."""
    jvms = java_children()
    procs = [p for j in jvms for p in descendants(j)] + jvms
    spark.stop()
    for pid in jvms:
        os.kill(pid, signal.SIGTERM)
    deadline = time.monotonic() + 30
    for pid in jvms:
        while time.monotonic() < deadline:
            if os.waitpid(pid, os.WNOHANG)[0]:
                break
            time.sleep(0.05)
        else:
            os.kill(pid, signal.SIGKILL)
            os.waitpid(pid, 0)
    for pid in procs:  # workers outlive the JVM by a moment
        while time.monotonic() < deadline and os.path.exists(f"/proc/{pid}"):
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            os.kill(pid, signal.SIGKILL)


def source_hash() -> str:
    """Hash of the program and generator sources: a digest recorded by
    another version of either is never compared."""
    h = hashlib.sha256()
    files = sorted((ROOT / "platform_etl_literature_spark").rglob("*.py")) + [HERE / "corpus.py"]
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def io_configs(inputs: Path) -> dict:
    """Input configs of the processing step over generated ``inputs``."""
    from platform_etl_literature_spark.sources import IOResourceConfig

    csv = {"header": "true", "inferSchema": "true"}
    return {
        "epmc": IOResourceConfig("json", f"{inputs}/epmc"),
        "epmcids": IOResourceConfig("csv", f"{inputs}/epmcids", csv),
        "targets": IOResourceConfig("parquet", f"{inputs}/targets"),
        "diseases": IOResourceConfig("parquet", f"{inputs}/diseases"),
        "drugs": IOResourceConfig("parquet", f"{inputs}/drugs"),
    }


class Bench:
    def __init__(self, name: str, seed: int, work: Path, traced: bool):
        """Session set-up from process start: JVM launch, ``build_session``
        and one trivial job.  ``setup_s`` is the CPU time it takes, as
        steadier under hypervisor steal than its wall time,
        ``setup_wall_s``."""
        from platform_etl_literature_spark.session import build_session

        self.name, self.seed, self.work = name, seed, work
        self.w = WORKLOADS[name]
        self.spark = build_session(f"perfbench-{name}")
        if traced:
            import tracing

            self.tracer = tracing.Tracer(self.spark)
            with self.tracer.span("session", "ready", start=T0):
                self.spark.range(1).count()
        else:
            self.spark.range(1).count()
        self.setup_wall_s = time.perf_counter() - T0
        self.setup_s = cpu_s()
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    # -- inputs ---------------------------------------------------------
    def generate(self) -> None:
        import corpus

        t = time.perf_counter()
        self.inputs = self.work / "inputs"
        self.truth = corpus.generate(str(self.inputs), self.seed, corpus.Params(**self.w.params))
        self.gen_s = time.perf_counter() - t

    def out_dir(self) -> str:
        """Where the steps write.  The downstream steps also read matches
        and co-occurrences from there, so without processing they run in
        the generator's intermediates directory."""
        if "processing" in self.w.steps:
            return str(self.work / "out")
        return str(self.inputs / "intermediate")

    # -- passes ---------------------------------------------------------
    def run_pass(self) -> tuple[dict, str]:
        """Each step invoked on its own through main.run_all."""
        from platform_etl_literature_spark.main import run_all

        out = self.out_dir()
        inputs = {n: {"format": c.format, "path": c.path, "options": c.options}
                  for n, c in io_configs(self.inputs).items()}
        times = {}
        cpu0, (steal0, total0) = cpu_s(), steal_jiffies()
        start = time.perf_counter()
        for step in self.w.steps:
            cfg = {
                "inputs": inputs if step == "processing" else {},
                "output": {"dir": out, "format": "parquet"},
            }
            self.attempted += 1
            t = time.perf_counter()
            run_all(self.spark, cfg, [step])
            times[step] = time.perf_counter() - t
        times["wall"] = time.perf_counter() - start
        steal1, total1 = steal_jiffies()
        times["cpu"] = cpu_s() - cpu0
        times["steal_share"] = (steal1 - steal0) / max(1, total1 - total0)
        return times, out

    def traced_pass(self, tr) -> tuple[dict, list[dict], str]:
        """The workload's steps through tracing.py, one span per layer call."""
        import tracing as T

        out = self.out_dir()
        first = len(tr.spans)
        stats = {}
        for step in self.w.steps:
            self.attempted += 1
            if step == "processing":
                stats[step] = T.processing(tr, self.spark, io_configs(self.inputs), out)
            else:
                stats[step] = getattr(T, step)(tr, self.spark, out)
        return stats, tr.spans[first:], out

    # -- checks ---------------------------------------------------------
    def check(self, out: str) -> None:
        import check

        t = time.perf_counter()
        if "processing" in self.w.steps:
            self.digest = check.digest(out)
            errs = check.check_processing(self.spark, out, self.truth, self.digest)
            if not errs:
                self.digest_across_runs()
        else:
            errs = check.check_downstream(out, self.truth)
        if errs:
            self.failed += 1
            self.errors += errs
        self.check_s = time.perf_counter() - t

    def digest_across_runs(self) -> None:
        """Processing outputs of one seed must not change between runs of
        the same program and generator."""
        path = WORK / "digests.json"
        seen = json.loads(path.read_text()) if path.exists() else {}
        key = hashlib.sha256(json.dumps(
            [self.name, self.seed, self.w.params, source_hash()], sort_keys=True
        ).encode()).hexdigest()[:24]
        if key in seen and seen[key] != self.digest:
            self.failed += 1
            self.errors.append(f"processing digest differs from an earlier run of seed {self.seed}")
            return
        seen[key] = self.digest
        tmp = path.with_suffix(f".{os.getpid()}")
        tmp.write_text(json.dumps(seen, sort_keys=True))
        tmp.replace(path)

    def output_mb(self, out: str) -> float:
        import check

        names = check.PROCESSING_OUTPUTS if "processing" in self.w.steps \
            else check.DOWNSTREAM_OUTPUTS
        return sum(check.dir_bytes(f"{out}/{n}")[0] for n in names) / 2**20

    def peak_rss_mb(self) -> float:
        return vm_hwm_mb("self") + sum(vm_hwm_mb(p) for p in java_children())

    @property
    def error_rate(self) -> float:
        return self.failed / max(1, self.attempted)


def measure(b: Bench) -> tuple[dict, dict]:
    times, out = b.run_pass()
    rss = b.peak_rss_mb()
    b.check(out)
    metrics = {
        "setup_s": (b.setup_s, "s"),
        "cpu_s": (times["cpu"], "s"),
        "peak_rss_mb": (rss, "MB"),
        "output_mb": (b.output_mb(out), "MB"),
    }
    return metrics, {"steps": times, "setup_wall_s": b.setup_wall_s,
                     "pubs_per_s": b.truth["pubs"] / times["wall"]}


def measure_traced(b: Bench) -> tuple[dict, dict]:
    """One traced pass.  Layers the workload does not run read 0."""
    import tracing as T

    tr = b.tracer
    stats, spans, out = b.traced_pass(tr)
    tr.finish()
    b.check(out)

    session = tr.spans[0]
    steps = [s for s in spans if s["layer"] == "step"]
    by_layer = {layer: [s for s in spans if s["layer"] == layer] for layer in T.LAYERS}
    by_layer["session"] = [session]

    def total(layer, name, key="dur"):
        return sum(s[key] for s in by_layer[layer] if s["name"] == name)

    m: dict[str, tuple] = {"session.build_s": (session["dur"], "s")}
    io = by_layer["sources.io"]
    m["sources.io.read_s"] = (total("sources.io", "read"), "s")
    m["sources.io.infer_jobs"] = (total("sources.io", "read", "jobs"), "count")
    m["sources.io.write_s"] = (total("sources.io", "write"), "s")
    m["sources.io.bytes_written"] = (sum(s.get("bytes", 0) for s in io), "bytes")
    m["sources.io.files_written"] = (sum(s.get("files", 0) for s in io), "count")
    g = stats.get("processing", dict.fromkeys(T.PROCESSING_STATS, 0))
    for name in ("lut", "load", "map", "resolve"):
        m[f"grounding.{name}_s"] = (total("grounding", name), "s")
    m["grounding.lut_rows"] = (g["lut_rows"], "count")
    m["grounding.mentions"] = (g["mentions"], "count")
    m["grounding.distinct_labels"] = (g["distinct_labels"], "count")
    m["grounding.label_reuse"] = (g["label_reuse"], "ratio")
    m["grounding.mapped_ratio"] = (g["mapped_ratio"], "ratio")
    m["grounding.disambiguation_drop"] = (g["disambiguation_drop"], "count")
    m["processing.index_s"] = (total("processing", "index"), "s")
    m["processing.index_rows"] = (g["index_rows"], "count")
    e = stats.get("embedding", dict.fromkeys(T.EMBEDDING_STATS, 0))
    m["embedding.regroup_s"] = (total("embedding", "regroup"), "s")
    m["embedding.fit_s"] = (total("embedding", "fit"), "s")
    m["embedding.sentences"] = (e["sentences"], "count")
    m["embedding.tokens"] = (e["tokens"], "count")
    m["embedding.vocab"] = (e["vocab"], "count")
    m["vectors.compute_s"] = (total("vectors", "compute"), "s")
    m["vectors.rows"] = (stats.get("vectors", {}).get("rows", 0), "count")
    ev = stats.get("evidence", dict.fromkeys(T.EVIDENCE_STATS, 0))
    for name in ("matches_path", "coocs_path", "join"):
        m[f"evidence.{name}_s"] = (total("evidence", name), "s")
    m["evidence.pair_candidates"] = (ev["pair_candidates"], "count")
    m["evidence.pairs"] = (ev["pairs"], "count")
    m["evidence.kept_ratio"] = (ev["kept_ratio"], "ratio")
    for layer in T.LAYERS:
        for key in ("jobs", "stages", "tasks", "failed_tasks"):
            m[f"{layer}.{key}"] = (sum(s[key] for s in by_layer[layer]), "count")

    m["trace.wall_s"] = (sum(s["dur"] for s in steps), "s")
    m["trace.self_s"] = (sum(s["self"] for s in steps), "s")
    m["trace.coverage"] = (min(1 - s["self"] / s["dur"] for s in steps), "ratio")
    m["run.error_rate"] = (b.error_rate, "ratio")

    tr.write(str(WORK / f"spans-{b.name}-{b.seed}.json"),
             {"workload": b.name, "seed": b.seed})
    detail = {"steps": {s["name"]: {"dur": s["dur"], "self": s["self"]} for s in steps},
              "truth_disambiguation_drop": b.truth["disambiguation_drop"]}
    return m, detail


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="pass length the workloads are sized to; a run is one pass")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path[:0] = [str(ROOT), str(HERE)]
    import platform_etl_literature_spark  # noqa: F401  (fails without the program)

    # no pid in the path: trace_source carries it into the processing
    # outputs, whose digest must repeat across runs of one seed
    work = WORK / f"run-{args.workload}-{args.seed}"
    shutil.rmtree(work, ignore_errors=True)
    env = pin_environment(work)

    b = Bench(args.workload, args.seed, work, traced=bool(args.trace))
    try:
        b.generate()
        try:
            metrics, detail = (measure_traced if args.trace else measure)(b)
        except Exception:  # a failing step: report it, not a number
            traceback.print_exc()
            b.failed += 1
            b.errors.append("a step raised: " + traceback.format_exc(limit=1).strip().splitlines()[-1])
            metrics, detail = {}, {}
    finally:
        stop_spark(b.spark)
        shutil.rmtree(work, ignore_errors=True)

    detail.update({
        "workload": args.workload,
        "seed": args.seed,
        "pinned_env": {k: env[k] for k in ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM")},
        "gen_s": b.gen_s,
        "check_s": getattr(b, "check_s", None),
        "run_s": time.perf_counter() - T0,
        "input_shares": b.truth["shares"],
        "error_rate": b.error_rate,
        "errors": b.errors,
    })
    print("detail " + json.dumps(detail, sort_keys=True))
    correct = not b.errors
    print(json.dumps({
        "correct": correct,
        "attempted": b.attempted,
        "failed": b.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
