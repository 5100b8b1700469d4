"""The repo benchmark: one closed-loop workload per invocation.

    python3 perfbench/run.py --workload extract_bulk --seed 1 --seconds 30 --trace 0

One client runs one job at a time. This process makes the seeded inputs
(cached per seed and size under ``perfbench/.cache``), launches one fresh
worker process that starts Spark and runs the job (``worker.py``), samples
the RSS of that process's whole tree, checks every output against goldens
made independently of the program, and prints as its last line one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1`` they
are the per-layer ones (``metrics.py`` records which end-to-end metric each
should move), and the traced run's spans are written to
``perfbench/.work/spans-<workload>-s<seed>.json``. The exit code is 0 only
when every output is correct.

Workloads:

* ``extract_bulk`` — ``job.extract_job`` over seeded fixture pages. Its
  traced run also runs ``curation_pipeline_e2e`` then
  ``training_pipeline_e2e`` once over a seeded documents table, for the
  datapipe layer's figures, and checks them against their DuckDB oracles.
* ``resume_extract`` — ``checkpoint.resumable_extract`` on the same pages,
  killed after half its bucket groups and resumed.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(HERE, ".cache")
WORK = os.path.join(HERE, ".work")

#: input pages per workload; both read the same corpus for a given seed
SIZES = {"extract_bulk": 40_000, "resume_extract": 40_000}
#: documents in the table the datapipe pass of a traced extract_bulk run reads
DOCS = 10_000
#: pages timed single-threaded for the kernel figures, and passes over them
KERNEL_SAMPLE = 2000
KERNEL_PASSES = 3
#: heap of the Spark JVM (read by ankiocr_spark.session)
JVM_HEAP = "2g"
WORKER_TIMEOUT_S = 150
#: the host speed probe: passes of a loop of this many iterations
PROBE_PASSES = 5
PROBE_LOOP = 1_500_000


def _cores() -> int:
    return len(os.sched_getaffinity(0))


# ------------------------------------------------------------ processes


def _procs():
    """(pid, parent pid, process group, state) of every process, from /proc."""
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    f = fh.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            yield int(d), int(f[1]), int(f[2]), f[0]


def _tree(root: int) -> list:
    """PIDs of ``root`` and all its descendants."""
    children: dict = {}
    for pid, ppid, _, _ in _procs():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo += children.get(p, [])
    return out


def _rss_bytes(pids: list) -> int:
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/statm") as fh:
                total += int(fh.read().split()[1]) * page
        except (OSError, IndexError, ValueError):
            pass
    return total


def _group_alive(pgid: int) -> bool:
    return any(pg == pgid and state != "Z" for _, _, pg, state in _procs())


def run_worker(cfg: dict, sample_rss: bool) -> tuple:
    """Launch worker.py in its own process group, with ``sample_rss`` sample
    the summed RSS of its process tree every 50 ms, and make sure every
    process it started has ended before returning (result dict,
    [(t, rss bytes)]). Only traced runs sample, so that the sampler takes
    no processor time from the jobs that give the end-to-end metrics."""
    os.makedirs(cfg["work_dir"], exist_ok=True)
    cfg_path = os.path.join(cfg["work_dir"], "config.json")
    # temporary files of Python and of every JVM stay inside the work dir
    tmp = os.path.join(cfg["work_dir"], "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, TMPDIR=tmp,
               JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}")
    cfg["t_launch"] = time.monotonic()
    with open(cfg_path, "w") as fh:
        json.dump(cfg, fh)
    log_path = os.path.join(cfg["work_dir"], "worker.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "worker.py"), cfg_path],
            cwd=cfg["work_dir"], env=env, start_new_session=True,
            stdout=log, stderr=subprocess.STDOUT,
        )
    samples: list = []
    stop = threading.Event()

    def sample() -> None:
        while not stop.wait(0.05):
            samples.append((time.monotonic(), _rss_bytes(_tree(proc.pid))))

    sampler = threading.Thread(target=sample, daemon=True)
    if sample_rss:
        sampler.start()
    try:
        proc.wait(timeout=WORKER_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        pass
    finally:
        stop.set()
        if sample_rss:
            sampler.join()
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()
        deadline = time.monotonic() + 20
        while _group_alive(proc.pid) and time.monotonic() < deadline:
            time.sleep(0.1)
    if proc.returncode != 0 or not os.path.exists(cfg["result"]):
        with open(log_path) as fh:
            tail = fh.read()[-3000:]
        raise RuntimeError(f"worker failed (exit {proc.returncode}):\n{tail}")
    with open(cfg["result"]) as fh:
        return json.load(fh), samples


# ------------------------------------------------------------------ host


def cpu_probe_s() -> float:
    """Median time of a fixed single-threaded pure-Python loop: the host's
    current speed, to tell host drift from a program change."""
    times = []
    for _ in range(PROBE_PASSES):
        t0 = time.perf_counter()
        acc = 0
        for i in range(PROBE_LOOP):
            acc += i * i % 7
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def _cpu_jiffies() -> tuple:
    """(steal, total) jiffies of all processors since boot."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    return f[7] if len(f) > 7 else 0, sum(f)


def _loadavg_1m() -> float:
    with open("/proc/loadavg") as fh:
        return float(fh.read().split()[0])


# ------------------------------------------------------------ correctness


def check_extract(out_dir: str, goldens_path: str, corrupt: bool) -> list:
    """Every url once, its text byte-equal to the spec-derived golden, and
    ``error`` set exactly on the null-html rows."""
    import pyarrow.parquet as pq

    gold = pq.read_table(goldens_path).to_pydict()
    expected = dict(zip(gold["url"], gold["expected_text"]))
    null_html = dict(zip(gold["url"], gold["null_html"]))
    if corrupt:
        url = next(u for u, t in expected.items() if t)
        expected[url] = expected[url] + "!"
    got = pq.read_table(out_dir, columns=["url", "extracted_text", "error"]).to_pydict()
    problems = []
    seen: set = set()
    dups = [u for u in got["url"] if u in seen or seen.add(u)]
    if dups:
        problems.append(f"{len(dups)} duplicated urls, e.g. {dups[0]}")
    missing = expected.keys() - seen
    extra = seen - expected.keys()
    if missing or extra:
        problems.append(f"{len(missing)} urls missing, {len(extra)} unexpected")
    wrong = [u for u, t in zip(got["url"], got["extracted_text"])
             if u in expected and t != expected[u]]
    if wrong:
        problems.append(f"{len(wrong)} texts differ from the goldens, e.g. {wrong[0]}")
    bad_err = [u for u, e in zip(got["url"], got["error"])
               if (e is not None and e != "null_html")
               or (u in null_html and (e == "null_html") != null_html[u])]
    if bad_err:
        problems.append(f"{len(bad_err)} rows with a wrong error, e.g. {bad_err[0]}")
    return problems


def _canon(v) -> str:
    from decimal import Decimal

    if isinstance(v, (float, Decimal)):
        return f"{float(v):.6g}"
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def _canon_rows(cols: list, rows) -> list:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted("|".join(_canon(r[i]) for i in order) for r in rows)


def check_curate(out_dir: str, sf_dir: str, names: tuple, corrupt: bool) -> list:
    """Each query's Spark output equals its DuckDB oracle over the same
    documents table: same columns, same rows (order-insensitive)."""
    import duckdb
    import pyarrow.parquet as pq

    import __spark_entry__

    oracles = __spark_entry__.oracle_sql()
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    con.execute("CREATE VIEW documents AS SELECT * FROM read_parquet("
                f"'{os.path.join(sf_dir, 'documents.parquet')}')")
    problems = []
    for name in names:
        cur = con.execute(oracles[name])
        ocols = [d[0] for d in cur.description]
        orows = [list(r) for r in cur.fetchall()]
        if corrupt and orows:
            orows[0][0] = "corrupted"
        t = pq.read_table(os.path.join(out_dir, name))
        scols = t.column_names
        srows = list(zip(*(t.column(c).to_pylist() for c in scols)))
        if sorted(ocols) != sorted(scols):
            problems.append(f"{name}: columns {sorted(scols)} != oracle {sorted(ocols)}")
            continue
        if len(srows) != len(orows) or not srows:
            problems.append(f"{name}: {len(srows)} rows, oracle {len(orows)}")
            continue
        if _canon_rows(scols, srows) != _canon_rows(ocols, orows):
            problems.append(f"{name}: values differ from the DuckDB oracle")
    return problems


# ----------------------------------------------------------- kernel layer


def kernel_metrics(pages: list, seed: int) -> dict:
    """Single-threaded in-process timing of the kernel's public functions
    on a seeded sample of the workload's own pages; each time is the median
    of KERNEL_PASSES passes over the sample."""
    from ankiocr_spark.kernel import detect_encoding, extract_record, extract_spans
    from ankiocr_spark.textclean import clean_text

    sample = random.Random(seed).sample(pages, min(KERNEL_SAMPLE, len(pages)))
    for html in sample[:200]:
        extract_record("u", html)  # warm the interpreter's caches
    clock = time.perf_counter
    passes = []
    for _ in range(KERNEL_PASSES):
        t = dict.fromkeys(("detect_encoding", "extract_spans", "clean_text",
                           "extract_record"), 0.0)
        kept = scored = 0
        for html in sample:
            if isinstance(html, bytes):
                t0 = clock()
                detect_encoding(html)
                t["detect_encoding"] += clock() - t0
            if html is not None:
                t0 = clock()
                blocks = extract_spans(html)
                t["extract_spans"] += clock() - t0
                texts = [b.text for b in blocks if b.kept]
                kept += len(texts)
                scored += len(blocks)
                t0 = clock()
                clean_text("\n".join(texts))
                t["clean_text"] += clock() - t0
            t0 = clock()
            extract_record("u", html)
            t["extract_record"] += clock() - t0
        passes.append(t)
    out = {f"kernel.{k}_s": statistics.median(p[k] for p in passes) for k in passes[0]}
    out["kernel.docs_per_s_1t"] = len(sample) / out["kernel.extract_record_s"]
    out["kernel.kept_block_frac"] = kept / scored
    return out


def _sample_pages(input_dir: str) -> list:
    import pyarrow.parquet as pq

    return pq.read_table(os.path.join(input_dir, "pages"),
                         columns=["html"]).column("html").to_pylist()


# ------------------------------------------------------------------ main


def _parse(argv) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", type=int, help="input size (default: the workload's)")
    ap.add_argument("--corrupt-golden", action="store_true",
                    help="alter one golden value; the run must then fail its check")
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = _parse(argv)
    # a terminated run still unwinds, so run_worker stops the worker's tree
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isfile(os.path.join(ROOT, "ankiocr_spark", "__init__.py")):
        print(f"no ankiocr_spark package next to {HERE}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import inputs
    import metrics

    clock = [time.monotonic()]
    size = args.size or SIZES[args.workload]
    input_dir = inputs.pages_corpus(CACHE, args.seed, size)
    docs_dir = None
    if args.trace and args.workload == "extract_bulk":
        docs_dir = inputs.documents_corpus(CACHE, args.seed, args.size or DOCS)
    clock.append(time.monotonic())

    work = os.path.join(WORK, f"{args.workload}-s{args.seed}-p{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    host = {"host.cpu_probe_s": cpu_probe_s(), "host.loadavg_1m": _loadavg_1m()}
    steal0, total0 = _cpu_jiffies()
    try:
        res, samples = run_worker({
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": bool(args.trace), "input_dir": input_dir, "docs_dir": docs_dir,
            "cores": _cores(), "jvm_heap": JVM_HEAP, "work_dir": work,
            "result": os.path.join(work, "result.json"),
            "spans": os.path.join(WORK, f"spans-{args.workload}-s{args.seed}.json"),
        }, sample_rss=bool(args.trace))
        clock.append(time.monotonic())
        steal1, total1 = _cpu_jiffies()
        host["host.steal_frac"] = (steal1 - steal0) / max(total1 - total0, 1)
        problems = list(res["problems"])
        if not res["reps"]:
            for p in problems:
                print(f"FAILED: {p}", file=sys.stderr)
            return 1
        problems += check_extract(res["out_dir"], os.path.join(input_dir, "goldens.parquet"),
                                  args.corrupt_golden)
        if "datapipe_out_dir" in res:
            problems += check_curate(res["datapipe_out_dir"], docs_dir,
                                     ("curation_pipeline_e2e", "training_pipeline_e2e"),
                                     args.corrupt_golden)
        if args.trace:
            kernel = kernel_metrics(_sample_pages(input_dir), args.seed)
            values = metrics.per_layer(res, size, kernel, _cores(), samples)
            values.update(host)
        else:
            values = metrics.end_to_end(res, size)
        clock.append(time.monotonic())
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(f"setup {res['setup']['setup_s']:.2f} s, "
          f"warm-up {res['warmup_s']:.2f} s, repetitions {[round(r, 2) for r in res['reps']]} "
          f"traced {[round(r, 2) for r in res['traced_reps']]}; inputs, workers, checks took "
          f"{[round(b - a, 1) for a, b in zip(clock, clock[1:])]} s; host: "
          + ", ".join(f"{k} {v:.4g}" for k, v in host.items()), file=sys.stderr)
    for p in problems:
        print(f"INCORRECT: {p}", file=sys.stderr)
    print(json.dumps({
        "correct": not problems,
        "attempted": len(res["reps"]) + len(res["traced_reps"]) + res["failed"],
        "failed": res["failed"],
        "metrics": metrics.render(values, "per_layer" if args.trace else "end_to_end",
                                  args.workload),
    }))
    return 0 if not problems else 1


if __name__ == "__main__":
    sys.exit(main())
