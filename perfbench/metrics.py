"""Pure logic of the benchmark: statistics, span self time, write
amplification, the order-sensitive result hash, and the derivation of
end-to-end and per-layer metrics from one run's raw harness output."""
import hashlib
import math
import statistics

# The query modules (<package>.<Object>) the workloads run; the other 14
# of graft.SparkEntry's 24 are left out to keep a run short (see README).
MODULES = [
    "queries.Graph", "text.Dedup", "text.SetSimilarity", "text.TextAnalysis",
    "text.SubstringDedup", "text.Dsir", "text.Winnowing", "sim.KMeans",
    "mm.Multimodal", "ops.Warehouse"]
KERNELS = ["graft_ngram_md5", "graft_minhash", "graft_simhash", "graft_lev",
           "graft_dot", "graft_compress_bp"]
SERVING = ["fingerprint", "occurrence", "dsir_ratio", "phash", "band",
           "admission", "warehouse"]
MB = 1e6


def median(xs):
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def quartile_spread(xs):
    """(Q3 - Q1) / median, with statistics.quantiles' default method."""
    q1, _, q3 = statistics.quantiles(list(xs), n=4)
    return (q3 - q1) / median(xs)


def self_times(spans):
    """{span id: duration minus the time its direct children cover}.

    `spans` are (id, parent, name, qid, start, end) rows; overlapping
    children are merged so covered time is never counted twice."""
    kids = {}
    for s in spans:
        kids.setdefault(s[1], []).append((s[4], s[5]))
    out = {}
    for s in spans:
        covered, cur = 0.0, None
        for a, b in sorted(kids.get(s[0], [])):
            a, b = max(a, s[4]), min(b, s[5])
            if b <= a:
                continue
            if cur and a <= cur[1]:
                cur[1] = max(cur[1], b)
            else:
                if cur:
                    covered += cur[1] - cur[0]
                cur = [a, b]
        if cur:
            covered += cur[1] - cur[0]
        out[s[0]] = (s[5] - s[4]) - covered
    return out


def write_amp(bytes_written, increment_bytes):
    """Bytes written under the lake per byte of increment parquet."""
    return bytes_written / increment_bytes if increment_bytes else 0.0


# ---- result check: scripts/check.py's normalisation and value hash ------

def norm(df):
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].apply(
                lambda v: tuple(v) if isinstance(v, (list, tuple)) or
                type(v).__name__ == "ndarray" else v)
    return df.reset_index(drop=True)


def value_hash(df):
    """Row-order-sensitive hash over stringified cells, floats at 12
    significant digits."""
    def cell(v):
        if isinstance(v, float):
            return "nan" if math.isnan(v) else f"{v:.12g}"
        return repr(v)
    h = hashlib.sha256()
    for row in df.itertuples(index=False):
        h.update(("|".join(cell(v) for v in row) + "\n").encode())
    return h.hexdigest()


def fingerprint(df):
    """{"rows", "hash"} of a query result, as the check compares it."""
    df = norm(df)
    return {"rows": len(df), "hash": value_hash(df)}


def check(got, expected):
    """None when `got` matches `expected` ({"rows", "hash"}), else why not."""
    if got["rows"] != expected["rows"]:
        return f"rows {got['rows']} != expected {expected['rows']}"
    if got["hash"] != expected["hash"]:
        return f"hash {got['hash'][:12]} != expected {expected['hash'][:12]}"
    return None


# ---- metric derivation ---------------------------------------------------

def _warm(raw, traced=None):
    return [p for p in raw["passes"] if p["kind"] == "warm" and
            (traced is None or p["traced"] == traced)]


def end_to_end(raw):
    cold = [p for p in raw["passes"] if p["kind"] == "cold"][0]
    return {
        "setup_s": raw["setup_s"],
        "cold_pass_s": cold["wall_s"],
        "warm_pass_s": median(p["wall_s"] for p in _warm(raw)),
    }


def lake_summary(raw):
    """Write-side figures of lake_refresh (zeros for the other workloads)."""
    cold = [p for p in raw["passes"] if p["kind"] == "cold"][0]
    cycles = [p for p in _warm(raw) if "cycle" in p]
    written = raw.get("written", [])
    buckets = raw.get("buckets", {})
    out = {
        "lake.persist_s": sum(cold.get("persist_s", {}).values(), 0.0),
        "lake.append_s": median(sum(p["append_s"].values()) for p in cycles),
        "lake.served_pass_s": median(p["served_s"] for p in cycles),
        "lake.write_amp": median(write_amp(w["bytes"], w["increment_bytes"])
                                 for w in written),
        "lake.bytes_written_mb": median(w["bytes"] / MB for w in written),
        "lake.files_written": median(w["files"] for w in written),
        "lake.files_per_bucket": (
            sum(b["files"] / b["buckets"] for b in buckets.values()) / len(buckets)
            if buckets else 0.0),
    }
    for t in SERVING:
        out[f"lake.persist_s.{t}"] = cold.get("persist_s", {}).get(t, 0.0)
        out[f"lake.append_s.{t}"] = median(p["append_s"].get(t, 0.0) for p in cycles)
    return out


class Spans:
    """A traced run's spans, tallies and planner phases, indexed."""

    # tally columns after the span id
    JOBS, STAGES, TASKS, RUN_MS, CPU_NS, GC_MS, SH_READ, SH_WRITE, SPILL, INPUT = range(10)

    def __init__(self, trace):
        self.spans = trace["spans"]
        self.by_id = {s[0]: s for s in self.spans}
        self.tallies = {t[0]: t[1:] for t in trace["tallies"]}
        self.phases = trace["phases"]
        kids = {}
        for s in self.spans:
            kids.setdefault(s[1], []).append(s)
        self.kids = kids

    def root(self, sid):
        while self.by_id[sid][1] in self.by_id:
            sid = self.by_id[sid][1]
        return self.by_id[sid]

    def timed(self, s):
        """Whether span `s` lies inside a timed pass or increment cycle."""
        return self.root(s[0])[2] in ("pass", "cycle")

    def tally(self, col, names=None, under=None):
        """Sum of one tally column over spans (optionally only spans
        named in `names`, only under top-level span `under`)."""
        tot = 0
        for sid, t in self.tallies.items():
            s = self.by_id.get(sid)
            if s is None or not self.timed(s):
                continue
            if names and s[2] not in names:
                continue
            if under is not None and self.root(sid)[0] != under:
                continue
            tot += t[col]
        return tot

    def served_passes(self):
        """Top-level pass spans that ran queries, in time order: the first
        is the cold one."""
        return sorted((s for s in self.spans if s[2] == "pass" and
                       any(k[2] == "query" for k in self.kids.get(s[0], []))),
                      key=lambda s: s[4])


def per_layer(raw):
    """Per-layer metrics of a traced run. Layer totals are per traced
    pass: summed over the cold pass and the traced warm passes (for
    lake_refresh: the persist and the traced increment cycles), divided
    by their number."""
    sp = Spans(raw["trace"])
    n = sum(1 for p in raw["passes"] if p["traced"]) or 1
    tops = [s for s in sp.spans if s[1] not in sp.by_id and s[2] in ("pass", "cycle")]
    run_s = sum(s[5] - s[4] for s in tops) / 1e3 / n
    served = sp.served_passes()

    def phase_sum(i):
        return sum(ph[i] for ph in sp.phases
                   if any(t[4] <= ph[0] <= t[5] for t in tops)) / 1e3 / n

    out = {
        "plans.construct_s": sum(s[5] - s[4] for s in sp.spans
                                 if s[2] == "construct" and sp.timed(s)) / 1e3 / n,
        "plans.construct_jobs": sp.tally(Spans.JOBS, ("construct",)) / n,
        "plans.analysis_s": phase_sum(1),
        "plans.optimization_s": phase_sum(2),
        "plans.planning_s": phase_sum(3),
        "exec.run_s": run_s,
        "exec.jobs": sp.tally(Spans.JOBS) / n,
        "exec.stages": sp.tally(Spans.STAGES) / n,
        "exec.tasks": sp.tally(Spans.TASKS) / n,
        "exec.task_run_s": sp.tally(Spans.RUN_MS) / 1e3 / n,
        "exec.task_cpu_s": sp.tally(Spans.CPU_NS) / 1e9 / n,
        "exec.gc_s": sp.tally(Spans.GC_MS) / 1e3 / n,
        "exec.shuffle_read_mb": sp.tally(Spans.SH_READ) / MB / n,
        "exec.shuffle_write_mb": sp.tally(Spans.SH_WRITE) / MB / n,
        "exec.spill_mb": sp.tally(Spans.SPILL) / MB / n,
        "exec.input_mb": sp.tally(Spans.INPUT) / MB / n,
        "memo.block_mb": raw["storage"]["block_mb"],
        "memo.cached_rdds": raw["storage"]["cached_rdds"],
        "memo.construct_jobs_saved": (
            sp.tally(Spans.JOBS, ("construct",), served[0][0]) -
            median(sp.tally(Spans.JOBS, ("construct",), p[0]) for p in served[1:])),
        "trace.pass_self_s": median(self_times(sp.spans)[p[0]] for p in served) / 1e3,
    }
    out["exec.parallelism"] = out["exec.task_run_s"] / run_s if run_s else 0.0
    cold = [p for p in raw["passes"] if p["kind"] == "cold"][0]
    traced_warm = _warm(raw, traced=True)
    out["memo.cold_minus_warm_s"] = (
        cold["wall_s"] - median(p["wall_s"] for p in traced_warm))
    out["trace.overhead_s"] = (
        median(p["wall_s"] for p in traced_warm) -
        median(p["wall_s"] for p in _warm(raw, traced=False)))
    for k in KERNELS:
        out[f"functions.{k}.rows_per_s"] = raw["kernels"][k]
    out["lake.open_ms"] = raw["meta_before"]["open_ms"]
    out["lake.signature_ms.before"] = raw["meta_before"]["signature_ms"]
    out["lake.signature_ms.after"] = raw["meta_after"]["signature_ms"]
    out.update(lake_summary(raw))
    with_queries = [p for p in raw["passes"] if p["queries"]]
    first, later = with_queries[0], [p for p in with_queries[1:] if p["traced"]]
    for m in MODULES:
        def mod_s(p):
            return sum(q["s"] for q in p["queries"] if q["module"] == m)
        out[f"{m}.cold_s"] = mod_s(first)
        out[f"{m}.warm_s"] = median(mod_s(p) for p in later)
    return out


def dominant_layer(layers):
    """The layer with the largest time in {layer: seconds}."""
    return max(layers, key=lambda k: layers[k]) if layers else None


def module_layers(raw):
    """Per module of a traced run: cold and warm seconds, and the layer
    that dominated its warm time — construction (memo builds and other
    jobs launched while the plan is built), planning (analysis,
    optimisation, physical planning) or execution (the final write,
    less its planning)."""
    sp = Spans(raw["trace"])
    spans, by_id = sp.spans, sp.by_id
    module = {q["name"]: q["module"] for p in raw["passes"] for q in p["queries"]}
    served = sp.served_passes()
    cold_ids = {served[0][0]}
    warm_ids = {p[0] for p in served[1:]}
    n_warm = len(warm_ids) or 1
    out = {}
    for s in spans:
        if s[2] not in ("construct", "execute"):
            continue
        q = by_id[s[1]]
        ps = by_id[q[1]][0]
        side = "warm" if ps in warm_ids else "cold" if ps in cold_ids else None
        if side is None:
            continue
        m = out.setdefault(module.get(s[3], "?"), {
            f"{side}_{k}": 0.0 for side in ("cold", "warm")
            for k in ("construct_s", "plan_s", "execute_s")})
        dur = (s[5] - s[4]) / 1e3
        plan = sum(ph[1] + ph[2] + ph[3] for ph in sp.phases
                   if s[4] <= ph[0] <= s[5]) / 1e3
        scale = 1.0 if side == "cold" else 1.0 / n_warm
        if s[2] == "construct":
            m[f"{side}_construct_s"] += dur * scale
        else:
            m[f"{side}_plan_s"] += plan * scale
            m[f"{side}_execute_s"] += max(dur - plan, 0.0) * scale
    for m, v in out.items():
        for side in ("cold", "warm"):
            v[f"{side}_s"] = sum(v[f"{side}_{k}"] for k in ("construct_s", "plan_s", "execute_s"))
            v[f"{side}_dominant"] = dominant_layer({
                k: v[f"{side}_{k}_s"] for k in ("construct", "plan", "execute")})
    return out
