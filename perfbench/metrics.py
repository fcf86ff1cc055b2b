"""Turns the harness's raw record into the benchmark's metrics.

End-to-end metrics come from untraced passes; per-layer metrics from the
traced passes of a `--trace 1` run, as per-pass means.
"""
import statistics


def tail_percentile(samples, q=0.9, beyond=10):
    """The q-quantile of `samples`, or None when fewer than `beyond`
    samples lie above it: a tail figure needs ten samples past it."""
    if not samples:
        return None
    xs = sorted(samples)
    p = xs[min(len(xs) - 1, int(q * len(xs)))]
    return p if sum(1 for x in xs if x > p) >= beyond else None


def query_times(passes):
    """{query: [seconds per pass]} over the given passes' successful calls."""
    out = {}
    for p in passes:
        for q in p["queries"]:
            if "error" not in q:
                out.setdefault(q["name"], []).append(q["build_s"] + q["action_s"])
    return out


def failures(raw):
    """Every call that threw: (pass, query, exception class, message)."""
    out = [("first", q["name"], q["error"]["class"], q["error"]["message"])
           for q in raw["first_pass"]["queries"] if "error" in q]
    for p in raw["passes"]:
        out += [(p["index"], q["name"], q["error"]["class"], q["error"]["message"])
                for q in p["queries"] if "error" in q]
    return out


def attempted(raw):
    return len(raw["first_pass"]["queries"]) + sum(
        len(p["queries"]) for p in raw["passes"])


def typical_pass(passes):
    """Seconds of a typical pass: each query's median time over `passes`,
    summed. A slow moment spoils one query's sample, not the whole pass."""
    return sum(statistics.median(ts) for ts in query_times(passes).values())


def end_to_end(raw):
    return {
        # the first set-up, from JVM start: the cold start a user of the
        # nightly job pays; the warm re-set-ups are in the run record
        "setup_s": raw["setup_s"],
        "wall_s": typical_pass([p for p in raw["passes"] if not p["traced"]]),
        # after the cold pass, where every run has done the same work; the
        # timed passes' figures, which depend on how many ran, are in the
        # run record
        "peak_heap_mb": raw["first_pass"]["heap_mb"],
    }


def per_layer(raw):
    traced = [p for p in raw["passes"] if p["traced"]]
    plain = [p for p in raw["passes"] if not p["traced"]]
    n = len(traced)
    out = {}
    for key in traced[0]["layers"]:
        out[key] = sum(p["layers"][key] for p in traced) / n
    for key in traced[0]["cache"]:
        out[key] = max(p["cache"][key] for p in traced)
    out["registry.build_s"] = sum(q["build_s"] for p in traced
                                  for q in p["queries"] if "error" not in q) / n
    out["registry.action_s"] = sum(q["action_s"] for p in traced
                                   for q in p["queries"] if "error" not in q) / n
    for layer in ("pass", "query", "build", "action", "job", "stage"):
        out[f"self.{layer}_s"] = raw["self_s"].get(layer, 0.0) / n
    out["trace.overhead_frac"] = typical_pass(traced) / typical_pass(plain) - 1
    out["query_p50_s"] = statistics.median(
        t for ts in query_times(raw["passes"]).values() for t in ts)
    out["stored_mb"] = raw["passes"][0]["stored_mb"]
    out["cold_pass_s"] = raw["first_pass"]["wall_s"]
    return out


def shares(raw, n_wrong, n_queries):
    """Calls that threw per call attempted; queries whose output disagreed
    with the oracle per query."""
    return {"failed_frac": len(failures(raw)) / attempted(raw),
            "wrong_frac": n_wrong / n_queries}


def printed(raw, trace, n_wrong, n_queries):
    """The metrics a run prints: end-to-end untraced, per-layer traced.
    The failure and mismatch shares are per-layer: they are 0 on a healthy
    run, and the result's `failed` and `correct` fields gate on them."""
    if not trace:
        return end_to_end(raw)
    return per_layer(raw) | shares(raw, n_wrong, n_queries)
