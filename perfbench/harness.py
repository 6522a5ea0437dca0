"""Pure parts of the serving benchmark: the seeded request plan, the
percentile and interval helpers, and the metrics computed from the records
the JVM side writes (see src/PerfBench.scala for the record layout)."""

import datetime
import math
import random
from collections import defaultdict

MAX_ROWS = 10000  # the engine's default max_rows cap (QueryConfig.maxRows)

LINEITEM_COLUMNS = ("l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity, "
                    "l_extendedprice, l_discount, l_tax, l_returnflag, l_linestatus, "
                    "l_shipdate")


def _day(r):
    """A day in the data's date range, as a timestamp literal."""
    return (datetime.date(1995, 1, 1) + datetime.timedelta(days=r.randrange(2300))).isoformat()


# Short UI queries, each returning at most 1 000 rows: (table browsed, SQL).
# Literal domains are wide, so a fresh draw seldom repeats earlier SQL text.
EXPLORE_TEMPLATES = [
    lambda r: ("lineitem", (lambda a: (
        "SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_discount, l_shipdate "
        "FROM bench.lineitem WHERE l_orderkey BETWEEN %d AND %d "
        "ORDER BY l_orderkey, l_linenumber" % (a, a + 99)))(r.randrange(0, 149900))),
    lambda r: ("orders", (lambda d: (
        "SELECT o_orderpriority, count(*) AS orders, round(sum(o_totalprice), 2) AS total "
        "FROM bench.orders WHERE o_orderdate >= TIMESTAMP '%s 00:00:00' "
        "AND o_orderdate < TIMESTAMP '%s 00:00:00' + INTERVAL 3 MONTHS "
        "GROUP BY o_orderpriority ORDER BY o_orderpriority" % (d, d)))(_day(r))),
    lambda r: ("customer", (
        "SELECT c_custkey, c_name, c_acctbal FROM bench.customer "
        "WHERE c_nationkey = %d AND c_mktsegment = '%s' AND c_acctbal > %.2f "
        "ORDER BY c_acctbal DESC, c_custkey LIMIT 100" % (
            r.randrange(25), r.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                       "HOUSEHOLD", "MACHINERY"]),
            r.randrange(-100000, 500000) / 100.0))),
    lambda r: ("orders", (lambda d: (
        "SELECT n.n_name, count(*) AS orders, round(sum(o.o_totalprice), 2) AS revenue "
        "FROM bench.orders o JOIN bench.customer c ON o.o_custkey = c.c_custkey "
        "JOIN bench.nation n ON c.c_nationkey = n.n_nationkey "
        "WHERE o.o_orderdate >= TIMESTAMP '%s 00:00:00' "
        "AND o.o_orderdate < TIMESTAMP '%s 00:00:00' + INTERVAL 1 YEAR "
        "GROUP BY n.n_name ORDER BY revenue DESC, n.n_name" % (d, d)))(_day(r))),
    lambda r: ("part", (lambda s: (
        "SELECT p_type, count(*) AS parts, round(avg(p_retailprice), 2) AS avg_price "
        "FROM bench.part WHERE p_size BETWEEN %d AND %d AND p_retailprice >= %.2f "
        "GROUP BY p_type ORDER BY p_type" % (s, s + 4, r.randrange(90000, 95000) / 100.0)))(
            r.randrange(1, 47))),
    lambda r: ("lineitem", (lambda d: (
        "SELECT l_returnflag, l_linestatus, count(*) AS lines, "
        "round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue "
        "FROM bench.lineitem WHERE l_shipdate >= TIMESTAMP '%s 00:00:00' "
        "AND l_shipdate < TIMESTAMP '%s 00:00:00' + INTERVAL 1 MONTH "
        "GROUP BY l_returnflag, l_linestatus "
        "ORDER BY l_returnflag, l_linestatus" % (d, d)))(_day(r))),
    lambda r: ("supplier", (
        "SELECT s.s_name, s.s_acctbal, n.n_name FROM bench.supplier s "
        "JOIN bench.nation n ON s.s_nationkey = n.n_nationkey WHERE s.s_acctbal > %.2f "
        "ORDER BY s.s_acctbal DESC, s.s_name LIMIT 200" % (r.randrange(-50000, 900000) / 100.0))),
    lambda r: ("lineitem", (lambda p: (
        "SELECT l_partkey, count(*) AS lines, round(sum(l_quantity), 1) AS quantity "
        "FROM bench.lineitem WHERE l_partkey BETWEEN %d AND %d "
        "GROUP BY l_partkey ORDER BY l_partkey" % (p, p + 199)))(r.randrange(0, 19800))),
]

# The verbatim-repeated half of explore: one instance per template, the
# same for every seed, so plan or code-generation reuse shows on it.
_fixed = random.Random("perfbench-fixed")
EXPLORE_FIXED = [t(_fixed) for t in EXPLORE_TEMPLATES]
EXPLORE_FIXED_SQL = {sql for _, sql in EXPLORE_FIXED}


def explore_block(shape, lit):
    """16 UI sessions: each template once verbatim from the fixed set and
    once with fresh literals, in a seeded order. Blocks keep the mix of
    every run the same, so seeds differ in literals and order only."""
    ops = EXPLORE_FIXED + [t(lit) for t in EXPLORE_TEMPLATES]
    shape.shuffle(ops)
    return ops


def extract_block(shape, lit):
    """Two 10 000-row lineitem extractions, one bounded by LIMIT and one by
    the engine's max_rows cap, in a seeded order."""
    a = lit.randrange(0, 146000)
    ops = [("lineitem", "SELECT %s FROM bench.lineitem WHERE l_orderkey >= %d LIMIT %d" % (
                LINEITEM_COLUMNS, lit.randrange(0, 140000), MAX_ROWS)),
           ("lineitem", "SELECT %s FROM bench.lineitem WHERE l_orderkey BETWEEN %d AND %d" % (
               LINEITEM_COLUMNS, a, a + 3999))]
    shape.shuffle(ops)
    return ops


WORKLOADS = {
    # name: (block generator, client count given the core count, ops per list)
    "explore": (explore_block, lambda cores: cores, 160),
    "extract": (extract_block, lambda cores: 1, 120),
}
WARM_OPS = 32


def make_plan(workload, seed, cores):
    """{list: [[(table, sql), ...] per client]} for the warm-up list, the
    timed list A, the traced list B, and R: B's shapes with fresh literals,
    so the direct replay meets no SQL text B already ran."""
    gen, clients, n = WORKLOADS[workload]

    def ops(name, shape_name, count, client):
        shape = random.Random("%s:%s:%s:shape:%d" % (workload, seed, shape_name, client))
        lit = random.Random("%s:%s:%s:lit:%d" % (workload, seed, name, client))
        out = []
        while len(out) < count:
            out += gen(shape, lit)
        return out[:count]

    return {name: [ops(name, shape, count, c) for c in range(clients(cores))]
            for name, shape, count in [("warm", "warm", WARM_OPS), ("A", "A", n),
                                       ("B", "B", n), ("R", "B", n)]}


def plan_lines(plan):
    for name, clients in plan.items():
        for c, ops in enumerate(clients):
            for table, sql in ops:
                yield "op\t%s\t%d\t%s\t%s" % (name, c, table, sql)


def percentile(values, q):
    """The q-th percentile with linear interpolation between closest ranks,
    so an even count's median is the mean of the two middle values."""
    xs = sorted(values)
    if not xs:
        return float("nan")
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values):
    return percentile(values, 50)


def union_length(intervals):
    """Total length covered by (start, end) intervals; overlaps count once."""
    total, cur_start, cur_end = 0.0, None, None
    for start, end in sorted(intervals):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def driver_gap_ms(wall, plan_ms, job_intervals):
    """Time of one query op that is neither Catalyst planning nor a running
    Spark job: wall minus the plan phases minus the UNION of its job
    intervals clipped to the op (jobs of one query may overlap)."""
    t0, t1 = wall
    clipped = [(max(s, t0), min(e, t1)) for s, e in job_intervals if min(e, t1) > max(s, t0)]
    return (t1 - t0) - plan_ms - union_length(clipped)


class Records:
    """The JVM's tab-separated records, parsed."""

    def __init__(self, lines):
        self.windows, self.kv = {}, {}
        self.ops, self.reqs, self.jobs, self.plans, self.spans, self.gate = [], [], [], [], [], []
        self.exec_group = {}
        for line in lines:
            f = line.rstrip("\n").split("\t")
            kind = f[0]
            if kind == "window":
                self.windows[f[1]] = (float(f[2]), float(f[3]))
            elif kind == "kv":
                self.kv[f[1]] = float(f[2])
            elif kind == "op":
                self.ops.append(dict(window=f[1], client=int(f[2]), index=int(f[3]),
                                     t0=float(f[4]), t1=float(f[5]), ok=f[6] == "1",
                                     reason=f[7]))
            elif kind == "req":
                self.reqs.append(dict(window=f[1], client=int(f[2]), index=int(f[3]),
                                      step=int(f[4]), name=f[5], cls=f[6], t0=float(f[7]),
                                      t1=float(f[8]), status=int(f[9]), bytes=int(f[10]),
                                      id=f[11], ok=f[12] == "1"))
            elif kind == "job":
                self.jobs.append(dict(id=int(f[1]), group=f[2], exec=f[3], start=float(f[4]),
                                      end=float(f[5]), stages=int(f[6]), tasks=int(f[7]),
                                      task_ms=float(f[8]), input=int(f[9]), output=int(f[10]),
                                      shuffle_read=int(f[11]), shuffle_write=int(f[12]),
                                      spill=int(f[13])))
            elif kind == "sqlexec":
                self.exec_group[f[1]] = f[2]
            elif kind == "plan":
                self.plans.append(dict(exec=f[1], t=float(f[2]), analysis=float(f[3]),
                                       optimization=float(f[4]), planning=float(f[5])))
            elif kind == "span":
                self.spans.append(dict(id=f[1], ms=float(f[2]), rows=int(f[3]), status=f[4]))
            elif kind == "gate":
                self.gate.append((float(f[1]), f[2] == "1"))

    def window_ops(self, window):
        return [o for o in self.ops if o["window"] == window]

    def ok_reqs(self, window):
        return [r for r in self.reqs if r["window"] == window and r["ok"]]


def outcome(recs, windows):
    """(attempted, failed) ops over the given windows. An op fails on a
    non-2xx status, a thrown call, or a failed output check."""
    ops = [o for w in windows for o in recs.window_ops(w)]
    return len(ops), sum(1 for o in ops if not o["ok"])


def ops_per_s(recs, window):
    """Closed-loop throughput: per client, the successful ops it started in
    the window over the span from its first op's start to its last op's
    end, summed over clients. Unlike a count over the window, this does
    not move in steps of one op."""
    spans = defaultdict(list)
    for o in recs.window_ops(window):
        spans[o["client"]].append(o)
    return sum(sum(o["ok"] for o in ops) /
               ((max(o["t1"] for o in ops) - min(o["t0"] for o in ops)) / 1000.0)
               for ops in spans.values())


def latencies(recs, window, cls):
    """Round trips of one request class, from successful ops only: a failed
    op's requests never count as fast samples."""
    return [r["t1"] - r["t0"] for r in recs.ok_reqs(window) if r["cls"] == cls]


# Latency metrics: (name, request class, percentile). A p90 is kept only
# for a class with at least 100 samples per run on every workload.
E2E = [("catalog_p50_ms", "catalog", 50), ("query_p50_ms", "query", 50),
       ("page_p50_ms", "page", 50), ("page_p90_ms", "page", 90),
       ("csv_p50_ms", "csv", 50), ("arrow_p50_ms", "arrow", 50)]


def e2e_metrics(recs, launch_ms):
    """(metrics {name: (value, unit)}, sample counts {name: n}) of window A."""
    m = {"setup_s": ((recs.windows["A"][0] - launch_ms) / 1000.0, "s"),
         "ops_per_s": (ops_per_s(recs, "A"), "1/s")}
    samples = {"setup_s": 1, "ops_per_s": sum(o["ok"] for o in recs.window_ops("A"))}
    for name, cls, q in E2E:
        xs = latencies(recs, "A", cls)
        m[name] = (percentile(xs, q), "ms")
        samples[name] = len(xs)
    return m, samples


OVERHEAD_CLASSES = {"catalog": {"namespaces", "tables", "schema", "details"},
                    "query": {"execute"}, "page": {"status", "page"},
                    "export": {"csv", "arrow"}}


def layer_metrics(recs, cores):
    """Per-layer metrics of the traced window B and its direct replay R."""
    b0, b1 = recs.windows["B"]
    b_ops = recs.window_ops("B")
    n = max(1, len(b_ops))
    b_reqs = [r for r in recs.reqs if r["window"] == "B"]
    r_reqs = [r for r in recs.reqs if r["window"] == "R"]
    m = {}

    a_rate, b_rate = ops_per_s(recs, "A"), ops_per_s(recs, "B")
    m["trace.ops_per_s_untraced"] = (a_rate, "1/s")
    m["trace.ops_per_s_traced"] = (b_rate, "1/s")
    m["trace.overhead_pct"] = (100.0 * (1 - b_rate / a_rate) if a_rate else 0.0, "%")

    m["api.requests"] = (len(b_reqs) / n, "1/op")
    m["api.bytes_out"] = (sum(r["bytes"] for r in b_reqs) / n, "B/op")
    m["api.non_2xx"] = (sum(1 for r in b_reqs if r["status"] // 100 != 2), "count")
    direct = {(r["client"], r["index"], r["step"]): r for r in r_reqs}
    for cls, names in OVERHEAD_CLASSES.items():
        diffs = [(r["t1"] - r["t0"]) - (d["t1"] - d["t0"]) for r in b_reqs
                 if r["name"] in names
                 for d in [direct.get((r["client"], r["index"], r["step"]))]
                 if d is not None and d["name"] == r["name"]]
        m["api.%s_overhead_ms" % cls] = (median(diffs), "ms")

    m["gate.calls"] = (sum(1 for r in b_reqs if r["name"] in ("execute", "arrow")) / n, "1/op")
    m["gate.validate_us"] = (median([us for us, _ in recs.gate]), "us")
    m["gate.rejects"] = (sum(1 for _, ok in recs.gate if not ok), "count")

    def direct_ms(name):
        return median([r["t1"] - r["t0"] for r in r_reqs if r["name"] == name])
    for name, step in [("list_namespaces", "namespaces"), ("list_tables", "tables"),
                       ("table_schema", "schema"), ("table_details", "details")]:
        m["catalog.%s_ms" % name] = (direct_ms(step), "ms")

    b_plans = [p for p in recs.plans if b0 <= p["t"] < recs.windows["R"][0]]
    for phase in ("analysis", "optimization", "planning"):
        m["plan.%s_ms" % phase] = (median([p[phase] for p in b_plans]), "ms")
    m["codegen.compiles"] = (recs.kv.get("codegen.compiles", 0) / n, "1/op")
    m["codegen.compile_ms"] = (recs.kv.get("codegen.compile_ms", 0) / n, "ms/op")

    b_ids = {r["id"] for r in b_reqs if r["name"] == "execute"}
    spans = [s for s in recs.spans if s["id"] in b_ids]
    m["executor.execute_ms"] = (median([s["ms"] for s in spans]), "ms")
    m["executor.rows_buffered"] = (sum(s["rows"] for s in spans) / n, "rows/op")
    r_n = max(1, len(recs.window_ops("R")))
    m["executor.truncated"] = (recs.kv.get("executor.truncated", 0) / r_n, "1/op")

    b_jobs = [j for j in recs.jobs if b0 <= j["start"] <= b1]
    busy = union_length([(j["start"], j["end"]) for j in b_jobs])
    task_ms = sum(j["task_ms"] for j in b_jobs)
    m["spark.jobs"] = (len(b_jobs) / n, "1/op")
    m["spark.stages"] = (sum(j["stages"] for j in b_jobs) / n, "1/op")
    m["spark.tasks"] = (sum(j["tasks"] for j in b_jobs) / n, "1/op")
    m["spark.job_wall_ms"] = (sum(j["end"] - j["start"] for j in b_jobs) / n, "ms/op")
    m["spark.task_ms"] = (task_ms / n, "ms/op")
    m["spark.core_util"] = (task_ms / (busy * cores) if busy else 0.0, "ratio")
    for key in ("input", "output", "shuffle_read", "shuffle_write", "spill"):
        m["spark.%s_bytes" % key] = (sum(j[key] for j in b_jobs) / n, "B/op")

    plan_by_group = defaultdict(float)
    for p in recs.plans:
        plan_by_group[recs.exec_group.get(p["exec"])] += (
            p["analysis"] + p["optimization"] + p["planning"])
    jobs_by_group = defaultdict(list)
    for j in recs.jobs:
        jobs_by_group[j["group"]].append((j["start"], j["end"]))
    gaps = [driver_gap_ms((r["t0"], r["t1"]), plan_by_group.get(r["id"], 0.0),
                          jobs_by_group.get(r["id"], []))
            for r in r_reqs if r["name"] == "execute" and r["ok"]]
    m["driver.gap_ms"] = (median(gaps), "ms")

    for name, step in [("ndjson", "page"), ("csv", "csv"), ("arrow", "arrow")]:
        m["results.%s_ms" % name] = (direct_ms(step), "ms")
        m["results.%s_bytes" % name] = (
            median([r["bytes"] for r in r_reqs if r["name"] == step]), "B")

    m["jvm.gc_ms"] = (recs.kv.get("jvm.gc_ms", 0) / n, "ms/op")
    m["jvm.gc_count"] = (recs.kv.get("jvm.gc_count", 0) / n, "1/op")
    m["jvm.heap_after_gc_mb"] = (recs.kv.get("jvm.heap_after_gc_mb", 0), "MB")
    for key in ("session", "tables", "warmup"):
        m["setup.%s_s" % key] = (recs.kv.get("setup.%s_s" % key, 0), "s")
    return m
