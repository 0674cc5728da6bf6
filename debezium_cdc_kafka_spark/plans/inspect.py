"""Plan inspection: programmatic access to what `.explain("formatted")`
shows, so scale-critical plan properties (predicate pushdown, column
pruning, broadcast joins, shuffle counts) are assertable in tests instead
of eyeballed.

The reference has no planner of its own (SURVEY §4 — everything delegated
to DuckDB); in this engine Catalyst is the planner and these helpers are
the guardrails that keep its choices scale-shaped. `tools/audit.py` runs
them over the whole registry; the parsers need no session.
"""

from __future__ import annotations

import re
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    jdf = df._jdf
    mode = df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    return jdf.queryExecution().explainString(mode)


def executed_plan(df: DataFrame) -> str:
    """Tree string of the physical plan. On an un-run frame this is the
    AQE initial plan (scan nodes and all, no tasks scheduled); after an
    action on THIS frame it is the final adaptive plan."""
    return df._jdf.queryExecution().executedPlan().toString()


def codegen_stats(spark) -> dict:
    """Classes Janino has compiled in this JVM so far, the milliseconds it
    took (both from `CodegenMetrics`/`CodeGenerator`, JVM-wide and
    cumulative: diff two readings around the work) and the metaspace
    in use, where generated classes live. A query whose second run still
    compiles has missed the generated-class cache."""
    jvm = spark._jvm
    compile_ns = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime()
    metaspace = next(
        p.getUsage().getUsed()
        for p in jvm.java.lang.management.ManagementFactory.getMemoryPoolMXBeans()
        if p.getName() == "Metaspace"
    )
    return {
        "compiles": jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
        .getCount(),
        "compile_ms": round(compile_ns / 1e6, 1),
        "metaspace_mb": round(metaspace / 2**20, 1),
    }


@dataclass
class PlanFacts:
    pushed_filters: list[str]
    read_schemas: list[str]
    broadcast_joins: int
    sort_merge_joins: int
    nested_loop_joins: int
    exchanges: int

    def reads_column(self, col: str) -> bool:
        return any(col in s for s in self.read_schemas)

    def pushes_filter_on(self, col: str) -> bool:
        return any(col in p for p in self.pushed_filters)


def _tree_lines(plan: str) -> list[str]:
    """Tree lines of the formatted explain, restricted to the plan that
    would actually run. Once an AdaptiveSparkPlan has executed (which
    happens to shared/cached frames as soon as any action touches them),
    explain prints BOTH '== Final Plan ==' and '== Initial Plan =='
    trees with separately numbered nodes — counting the whole text then
    double-counts every exchange/join. Keep final/current trees (main
    plan and each subquery), drop initial duplicates and detail entries
    (detail lines start with '(<id>)'; tree lines end with it)."""
    out: list[str] = []
    skip = False
    for line in plan.splitlines():
        if "== Initial Plan ==" in line:
            skip = True
            continue
        if (
            "== Physical Plan ==" in line
            or "== Final Plan ==" in line
            or "== Current Plan ==" in line
            or line.startswith("Subquery:")
        ):
            skip = False
            continue
        if not skip and not line.lstrip().startswith("("):
            out.append(line)
    return out


def _nodes(plan: str, name: str) -> int:
    # Count nodes on (final-plan) tree lines: "+- <Name> [flags] (<id>)".
    pat = re.compile(rf"(?<![\w]){name}\b[^\n()]*\(\d+\)")
    return sum(1 for line in _tree_lines(plan) if pat.search(line))


def plan_facts(df: DataFrame) -> PlanFacts:
    plan = formatted_plan(df)
    return PlanFacts(
        pushed_filters=re.findall(r"PushedFilters: \[([^\]]*)\]", plan),
        read_schemas=re.findall(r"ReadSchema: (\S+)", plan),
        broadcast_joins=_nodes(plan, "BroadcastHashJoin"),
        sort_merge_joins=_nodes(plan, "SortMergeJoin"),
        nested_loop_joins=_nodes(plan, "BroadcastNestedLoopJoin"),
        exchanges=_nodes(plan, "Exchange"),
    )


SHUFFLE = re.compile(
    r"\bExchange (hashpartitioning|rangepartitioning|SinglePartition|RoundRobinPartitioning)"
)
REUSED = re.compile(r"ReusedExchange|ReusedQueryStage|TableCacheQueryStage")
# Run-specific noise inside plan strings: expression ids, plan/stage ids,
# shuffle ids, memory sizes reported by finalized stages.
NOISE = re.compile(
    r"#\d+[A-Z]*|\[plan_id=\d+\]|\[id=#?\d+\]|, \[id=#?\d+\]"
    r"|ShuffleQueryStage \d+|QueryStage \d+|Statistics\([^)]*\)"
)
# Lambda variables are numbered per plan instance (x_1 vs x_7 for the same
# function), and a rename must not defeat the fingerprint. Anchored to the
# `lambda ` prefix so a real column named x_1 survives, and group-preserving
# so `lambda x_1` and `lambda y_3` stay distinct.
_LAMBDA_VAR = re.compile(r"\blambda (\w+?)_\d+\b")
SCAN_LOC = re.compile(r"/(\w+)\.parquet")


def _norm(line: str) -> str:
    return _LAMBDA_VAR.sub(r"lambda \1", NOISE.sub("", line))


def _depth(line: str) -> int:
    return len(line) - len(line.lstrip(" +-:*"))


def _subtree(lines: list[str], i: int) -> str:
    # strip the tree gutters too: identical subtrees at different branch
    # positions render different ':'/'+' prefixes
    d = _depth(lines[i])
    out = [_norm(lines[i]).lstrip(" :+-*")]
    for ln in lines[i + 1 :]:
        if ln.strip() and _depth(ln) <= d:
            break
        out.append(_norm(ln).lstrip(" :+-*").rstrip())
    return "\n".join(out)


def _cut_initial(plan: str) -> str:
    # The final adaptive plan ends where the pre-AQE snapshot begins.
    cut = plan.find("== Initial Plan ==")
    return plan[:cut] if cut != -1 else plan


def scan_census(plan: str) -> dict[str, int]:
    """Per-table FileScan counts of the (final, else initial) plan."""
    scans: dict[str, int] = {}
    for ln in _cut_initial(plan).splitlines():
        if "FileScan parquet" in ln:
            m = SCAN_LOC.search(ln)
            key = m.group(1) if m else "?"
            scans[key] = scans.get(key, 0) + 1
    return scans


def audit_plan(plan: str) -> tuple[int, int, list[list[str]], dict[str, int]]:
    """Return (materialized shuffles, reused markers, duplicate groups,
    per-table FileScan counts).

    Two identical normalized shuffle subtrees in one plan mean the same
    shuffle executed twice (exchange reuse was defeated). The scan census
    is the recompute signal the fingerprint can't see: a lazy frame with
    three consumers re-executes its whole subtree, base scan included,
    once per consumer. At 100 TB a fact table scanned 4× is 300 TB of
    extra I/O, so a high count on a FACT table needs a documented
    recompute-over-materialize rationale or a persist."""
    lines = _cut_initial(plan).splitlines()
    seen: dict[str, list[str]] = {}
    count = reused = 0
    for i, ln in enumerate(lines):
        if REUSED.search(ln):
            reused += 1
            continue
        if not SHUFFLE.search(ln):
            continue
        count += 1
        seen.setdefault(_subtree(lines, i), []).append(_norm(ln).strip()[:120])
    dups = [v for v in seen.values() if len(v) > 1]
    return count, reused, dups, scan_census(plan)


FS_DATA = re.compile(r"FileScan parquet.*?DataFilters: \[(.*?)\], Format")
PUSHED = re.compile(r"PushedFilters: \[(.*?)\][,}]")
COL = re.compile(r"\b([a-z]\w*)#\d+")
# a "plain-shaped" predicate starts with the bare column reference
# (optionally negated/parenthesised) — no function wrapper around it
PLAIN = re.compile(r"^[(\s]*(NOT[ (]+)?[a-z]\w*#\d+")


def _split_preds(s: str) -> list[str]:
    """Split a filter list on top-level commas."""
    out, depth, cur = [], 0, []
    for ch in s:
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        if ch == "," and depth == 0:
            out.append("".join(cur).strip())
            cur = []
        else:
            cur.append(ch)
    tail = "".join(cur).strip()
    if tail:
        out.append(tail)
    return [p for p in out if p]


def _cols(pred: str) -> set[str]:
    """Column names referenced by a Catalyst predicate string."""
    return set(COL.findall(pred))


def residual_preds(data: list[str], pushed: str) -> list[str]:
    """Data-filter predicates with no funding pushed filter.

    DataFilters print as Catalyst expressions, PushedFilters as
    source-filter constructors, so textual equality never holds: this is
    per-predicate COUNT accounting by column (an any-column-match rule
    lets ``ts >= X AND year(ts) = 1996`` escape). Each non-IsNotNull
    pushed filter funds one data predicate per column it mentions.
    Plain-shaped data predicates (bare column at the head) consume budget
    first, wrapper-shaped ones (StartsWith(col,..), which DO push as
    constructor filters) what remains; anything unfunded is flagged."""
    budget: dict[str, int] = {}
    for f in _split_preds(pushed):
        if not f or f.startswith("IsNotNull"):
            continue
        # distinct columns per pushed filter: Or(EqualTo(c,..),EqualTo(c,..))
        # is ONE filter funding ONE data predicate on c
        for c in set(re.findall(r"\(([a-z]\w*)[,)]", f)):
            budget[c] = budget.get(c, 0) + 1
    cand = [p for p in data if not p.startswith("isnotnull")]
    ordered = sorted(range(len(cand)), key=lambda i: 0 if PLAIN.match(cand[i]) else 1)
    flagged: set[int] = set()
    for i in ordered:
        cols = _cols(cand[i])
        if cols and all(budget.get(c, 0) > 0 for c in cols):
            for c in cols:
                budget[c] -= 1
        else:
            flagged.add(i)
    return [p for i, p in enumerate(cand) if i in flagged]


def scan_residuals(plan: str) -> list[tuple[str, list[str]]]:
    """(table, residual predicates) per FileScan: DataFilters absent from
    PushedFilters, so row-group statistics never skip a chunk for them."""
    out = []
    # one FileScan prints on one (very long) line in the tree string
    for ln in plan.splitlines():
        m = FS_DATA.search(ln) if "FileScan parquet" in ln else None
        if not m or not m.group(1).strip():
            continue
        mp = PUSHED.search(ln)
        resid = residual_preds(_split_preds(m.group(1)), mp.group(1) if mp else "")
        if resid:
            loc = SCAN_LOC.search(ln)
            out.append((loc.group(1) if loc else "?", resid))
    return out


BOUNDING = re.compile(
    r"HashAggregate|SortAggregate|ObjectHashAggregate|TakeOrdered"
    r"|CollectLimit|GlobalLimit|LocalLimit|Deduplicate"
)


def unbounded_broadcast_generates(plan: str) -> list[str]:
    """Generate lines that feed a BroadcastExchange with no bounding
    operator (aggregate / limit / top-k / distinct) between them: Catalyst
    carries the scan's size estimate through an explode unchanged, so
    such a side can be (decompression × fan-out) larger than estimated."""
    lines = plan.splitlines()
    out = []
    for i, ln in enumerate(lines):
        if "BroadcastExchange" not in ln:
            continue
        d0, bounded = _depth(ln), False
        for sub in lines[i + 1 :]:
            if _depth(sub) <= d0:
                break
            bounded = bounded or bool(BOUNDING.search(sub))
            if "Generate" in sub and not bounded:
                out.append(sub.strip()[:100])
                break
    return out


# how long group_stages waits for job-end events to reach the status store
STAGE_WAIT_S = 10.0


def group_stages(spark, group: str) -> list[dict]:
    """Completed stages of every job run under job group `group`.

    Read from the driver's status store, which the scheduler listener
    fills whether or not the web UI is enabled. Read it right after the
    group's work: the store keeps only the most recent
    ``spark.ui.retainedStages`` stages."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    job_ids = list(sc.statusTracker().getJobIdsForGroup(group))
    deadline = time.monotonic() + STAGE_WAIT_S
    # job-end events reach the status store asynchronously
    while any(store.job(j).status().toString() == "RUNNING" for j in job_ids):
        if time.monotonic() > deadline:
            raise RuntimeError(f"jobs of group {group} still running")
        time.sleep(0.05)
    stages: dict[int, dict] = {}
    for j in job_ids:
        ids = store.job(j).stageIds()
        for sid in (ids.apply(i) for i in range(ids.size())):
            if sid in stages:
                continue
            sd = store.lastStageAttempt(sid)
            if sd.status().toString() != "COMPLETE":
                continue  # skipped: its shuffle output was reused
            sub, done = sd.submissionTime(), sd.completionTime()
            stages[sid] = {
                "stage": sid,
                "name": sd.name().split("\n")[0][:60],
                "tasks": sd.numCompleteTasks(),
                "wall_ms": done.get().getTime() - sub.get().getTime()
                if sub.isDefined() and done.isDefined() else 0,
                "run_ms": sd.executorRunTime(),
                "cpu_ms": sd.executorCpuTime() // 1_000_000,
                "shuffle_write_bytes": sd.shuffleWriteBytes(),
                "shuffle_read_bytes": sd.shuffleReadBytes(),
                "input_bytes": sd.inputBytes(),
                "spill_bytes": sd.diskBytesSpilled() + sd.memoryBytesSpilled(),
            }
    return [stages[s] for s in sorted(stages)]
