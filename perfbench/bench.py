"""Metric derivation for the benchmark: turns the harness's raw result
(every timed operation with its outcome, pass ids, checks, set-up times,
per-layer numbers) into the printed result line.

Pure functions over plain dicts, so the rules are unit-tested without a
JVM (see tests/test_bench.py).
"""
import statistics

# The operation each workload's latency and pass metrics are made of:
# a query (batch workloads), a chat turn, a micro-batch.
MAIN_KINDS = {"query", "turn", "batch"}


def median(values):
    return statistics.median(values) if values else 0.0


def digest_ok(op, digests):
    return op["kind"] != "query" or op.get("digest") == digests.get(op["name"])


def recorded_digests(digests, raw, workloads):
    """The digest file after `--record`: this run's query digests over
    the recorded ones, kept only for queries some workload runs."""
    named = {q for w in workloads.values() for q in w["params"].get("queries", [])}
    new = {k: v for k, v in digests.items() if k in named}
    new.update({op["name"]: op["digest"] for op in raw["ops"]
                if op["kind"] == "query" and op["ok"] and op["name"] in named})
    return dict(sorted(new.items()))


def op_failures(raw, digests):
    """Every failed operation or check, as (name, reason) pairs.

    An operation fails when it raised, or when it is a query whose result
    digest differs from the recorded one. A workload check (store counts,
    streamed verdicts) fails when it says so.
    """
    failures = []
    for op in raw["ops"]:
        if not op["ok"]:
            failures.append((op["name"], op.get("error") or "failed"))
        elif not digest_ok(op, digests):
            failures.append((op["name"], f"digest {op.get('digest')} != recorded "
                                         f"{digests.get(op['name'])}"))
    for check in raw["checks"]:
        if not check["ok"]:
            failures.append((check["name"], check["detail"]))
    return failures


def good_ops(raw, digests, traced=False):
    """Successful main operations of the measured passes (pass 0 is the
    warm pass), traced or untraced, grouped by pass id."""
    passes = {p["pass"] for p in raw["passes"] if p["pass"] >= 1 and p["traced"] == traced}
    by_pass = {}
    for op in raw["ops"]:
        if (op["pass"] in passes and op["kind"] in MAIN_KINDS and op["ok"]
                and digest_ok(op, digests)):
            by_pass.setdefault(op["pass"], []).append(op)
    return by_pass


def pass_seconds(ops_by_pass):
    """Median over passes of the summed latency of the pass's good
    operations: a failed operation is never timed into a pass."""
    return median([sum(op["ms"] for op in ops) / 1e3 for ops in ops_by_pass.values()])


def end_to_end(raw, digests):
    """`setup_s` is a composite: process start to session ready (once),
    plus the median of the workload's repeatable set-up step, which
    each run does three times (opening the tables; building the chat
    state and server; writing the topic and building the index), plus
    the warm pass or warm turns. No single process takes exactly this
    long: it is one set-up whose repeatable part is a median of three."""
    measured = good_ops(raw, digests)
    setup = raw["setup"]
    return {
        "setup_s": setup["session_s"] + median(setup["prep_s"]) + setup.get("warm_s", 0.0),
        "pass_s": pass_seconds(measured),
        "op_p50_ms": median([op["ms"] for ops in measured.values() for op in ops]),
        "heap_peak_mb": raw["heap_peak_mb"],
    }


def per_layer(raw, digests, names):
    """Every named per-layer metric; a layer the workload does not
    exercise reports 0. Adds the figures derived here: the median GET
    latency and the traced run's own pass time, which compared with the
    untraced runs' `pass_s` gives the tracing overhead."""
    values = {name: 0.0 for name in names}
    values.update({k: v for k, v in raw["layers"].items() if k in values})
    traced = good_ops(raw, digests, traced=True)
    traced_passes = {p["pass"] for p in raw["passes"] if p["traced"]}
    views = [op["ms"] for op in raw["ops"]
             if op["kind"] == "view" and op["ok"] and op["pass"] in traced_passes]
    if "serve.view_ms" in values:
        values["serve.view_ms"] = median(views)
    if "trace.pass_s" in values:
        values["trace.pass_s"] = pass_seconds(traced)
    return values


def result(raw, digests, metrics, trace):
    """The printed result: `metrics` is BENCHMARK.json's list of
    end-to-end (trace off) or per-layer (trace on) metric specs."""
    names = [m["name"] for m in metrics]
    values = per_layer(raw, digests, names) if trace else end_to_end(raw, digests)
    failures = op_failures(raw, digests)
    attempted = len(raw["ops"]) + len(raw["checks"])
    return {
        "correct": not failures,
        "attempted": max(attempted, 1),
        "failed": len(failures),
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                    for m in metrics},
    }, failures
