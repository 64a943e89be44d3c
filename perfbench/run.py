"""Benchmark entry point.

    python3 perfbench/run.py --workload {build,ingest,refresh,serve} --seed N \\
        --seconds S --trace {0,1} [--smoke]

Runs one workload on ``local[nproc]`` in this process and prints, as
the last line of standard output, one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``.  ``--trace 0`` reports the
end-to-end metrics; ``--trace 1`` runs the timed region twice, first
untraced and then with spans on every layer boundary, then the
workload's layer phase (traced), and reports the per-layer metrics plus
the tracing overhead.  ``--smoke`` shrinks every
input so the whole run takes well under a minute.  Exit code 1 when a
correctness check or an operation fails, 2 when the program is not
beside the benchmark.
See perfbench/README.md for what each workload and metric means.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import sys
import time

if __package__ in (None, ""):
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import env  # noqa: E402


def peak_memory() -> int:
    """Sum of the peak resident set sizes (the kernel's ``VmHWM``) of
    this process and all its descendants: driver, JVM and Python workers.
    Exact, where sampling misses short peaks; an upper bound on the peak
    of the sum."""
    total = 0
    for pid in descendants(os.getpid()) + [os.getpid()]:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:  # exited since listed
            pass
    return total


def descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait until every
    child process has exited."""
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    spark.stop()
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - fall through to the kill below
            pass
    deadline = time.time() + 20
    while True:
        left = descendants(os.getpid())
        if not left:
            return
        if time.time() > deadline:
            for pid in left:
                try:
                    os.kill(pid, signal.SIGKILL)
                except OSError:
                    pass
        time.sleep(0.2)


def end_to_end(w, setup_s: float, window: tuple[float, float], peak_mem: int) -> dict:
    """The metrics a user sees.  One op is a cold build, a delta batch
    or a request; items are pages (build, ingest, refresh) or requests
    (serve).  The tail is printed, not gated: a build or batch takes
    seconds, so a run holds too few ops for a tail distinct from the
    median (see perfbench/README.md, "Run budget and noise")."""
    from perfbench.workloads import STEAL_MAX, median, tail

    main = [o for o in w.ops if o.main]
    quiet = [o for o in main if o.steal <= STEAL_MAX] or main
    lat_ms = [o.latency_s * 1000 for o in quiet]
    p_tail, v_tail = tail(lat_ms)
    if w.name == "serve":
        items_per_s = sum(1 for o in main if o.ok) / (window[1] - window[0])
    else:
        items_per_s = sum(o.items for o in quiet) / sum(o.latency_s for o in quiet)
    print(f"# {w.name}: {len(main)} timed ops, {len(quiet)} of them reported (steal <= "
          f"{STEAL_MAX:.0%}, or all); tail p{p_tail:g} of {len(lat_ms)} samples "
          f"= {v_tail:.0f} ms", flush=True)
    return {
        "setup_s": (setup_s, "s"),
        "op_p50_ms": (median(lat_ms), "ms"),
        "items_per_s": (items_per_s, "1/s"),
        "peak_mem_mb": (peak_mem / 2**20, "MB"),
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["build", "ingest", "refresh", "serve"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny inputs for quick tests")
    args = ap.parse_args(argv)

    t_start = time.time()
    try:
        work = env.prepare()
    except ModuleNotFoundError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2

    from perfbench import trace as tr
    from perfbench import workloads as wl
    from perfbench.workloads import cpu_times

    event_dir = os.path.join(work, "eventlog") if args.trace else None
    spark = env.start_spark(event_dir)
    w = wl.WORKLOADS[args.workload](
        spark, args.seed, wl.SIZES["smoke" if args.smoke else "full"], work
    )
    tracer = None
    try:
        w.setup()
        setup_s = time.time() - t_start
        cpu0 = cpu_times()
        if args.trace:
            tracer = tr.Tracer(spark.sparkContext)
            tr.instrument(tracer)
            w.measure(args.seconds / 2)
            tracer.enabled = w.tracing = True
            window = w.measure(args.seconds / 2)
            w.layer_phase()
            region = (window[0], time.time())
            tracer.enabled = w.tracing = False
        else:
            window = w.measure(args.seconds)
        peak_mem = peak_memory()
        t_measured = time.time()
        cpu = [b - a for a, b in zip(cpu0, cpu_times())]
        layers = tr.layer_inputs(w) if tracer else None
        w.check()
        t_checked = time.time()
    finally:
        w.close()
        if tracer is not None:
            tracer.restore()
        stop_spark(spark)

    if tracer is not None:
        out_dir = os.path.join(env.ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        tracer.write(os.path.join(out_dir, f"spans-{args.workload}-{args.seed}.jsonl"))
        metrics = tr.per_layer(w, tracer, tr.read_event_log(event_dir), window, region,
                               layers)
    else:
        metrics = end_to_end(w, setup_s, window, peak_mem)
    env.cleanup()
    print(f"# phases: setup={setup_s:.1f}s measure={t_measured - t_start - setup_s:.1f}s "
          f"check={t_checked - t_measured:.1f}s stop={time.time() - t_checked:.1f}s", flush=True)
    # other tenants of the machine show as steal and busy time not ours
    print(f"# machine cpu while measuring: busy={1 - (cpu[3] + cpu[4]) / sum(cpu):.0%} "
          f"steal={cpu[7] / sum(cpu):.1%}", flush=True)
    from perfbench.workloads import median
    for kind in sorted({o.kind for o in w.ops}):
        ops = [o for o in w.ops if o.kind == kind]
        lat = [o.latency_s * 1000 for o in ops]
        print(f"# op {kind}: n={len(lat)} p50={median(lat):.0f}ms max={max(lat):.0f}ms "
              f"all={[round(x) for x in lat]} steal={[f'{o.steal:.1%}' for o in ops]}",
              flush=True)

    for c in w.checks:
        print(f"# check {c.name}: {'ok' if c.ok else 'FAILED'} {c.detail}", flush=True)
    attempted = len(w.ops) + len(w.checks)
    failed = sum(1 for o in w.ops if not o.ok) + sum(1 for c in w.checks if not c.ok)
    print(f"# failed_ratio: {failed / attempted:g} ({failed} of {attempted})", flush=True)
    correct = failed == 0
    print(json.dumps({
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }), flush=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
