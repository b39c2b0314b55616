"""Physical-plan audit over the whole query catalog.

The correctness gate proves the answers RIGHT; the scale smoke proves the
cost curve; this audits the PLANS — the thing that actually decides whether
a query survives a 1000-executor / 100 TB deployment.  For every catalog
query it captures `explain("formatted")` WITHOUT executing, extracts the
scale-relevant markers, and enforces hard rules.  (Capture itself runs no
actions; a few queries execute small bounded side jobs during CONSTRUCTION
— e.g. filter_union_suite's csv-sink round-trip arm writes its fixture, and
exstream_leap_cut and the exstream_explain flagships collect their C7
rewards and return the driver tail's local relation — but the audited
relation is never materialized.)  Hard rules:

  * no CartesianProduct anywhere;
  * no BroadcastNestedLoopJoin except on an explicit allowlist (each entry
    must name the bound that keeps the broadcast side O(1)-ish);
  * Exchange SinglePartition only as the merge step of a two-phase global
    aggregate, or on an allowlist bounding the moved rows.

Scan health (PushedFilters present, ReadSchema pruned) is REPORTED in the
per-query table — reviewable in docs/PLANS.md — but not a failure condition:
several catalog queries legitimately scan unfiltered tables (full-corpus
dedup/metrics) where an empty PushedFilters is correct.

It then writes ``docs/PLANS.md``: one summary row per query (shuffles,
joins by strategy, codegen spans, scans with pushdown) plus the audited
rule results, so the plan evidence is reviewable without re-running Spark.

Usage:  PYTHONPATH=/root/repo python tools/plan_audit.py [names...]
Exit 1 if any hard rule fails.
"""

from __future__ import annotations

import os
import re
import sys
import time

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# BroadcastNestedLoopJoin sites that are provably bounded — every one is an
# explicit ``crossJoin(F.broadcast(<bounded>))`` whose build side is O(1),
# O(k) or O(#anomalies) rows, never O(input).  Anything not listed here
# fails the audit.
BNLJ_ALLOW = {
    # interval slicing: trace × broadcast per-run ref/ano bounds
    # (plans/exstream_sql.py:167, operators/slicing.py — O(#anomalies) rows)
    "exstream_rewards": "interval-bounds broadcast, O(#anomalies) rows",
    "exstream_entropy_profile": "interval-bounds broadcast, O(#anomalies) rows",
    "exstream_slice_counts": "interval-bounds broadcast, O(#anomalies) rows",
    # leap cut: 1-row max-leap / cut-rank scalar frames
    # (plans/relational.py:468,473)
    "topk_until_leap": "1-row leap-cut scalar broadcast",
    # LSH plane-weight table: n_tables x planes rows, data-independent
    # (plans/similarity.py:145,158)
    "ann_bucketed_topk": "plane-weight table broadcast, tables x planes rows",
    "emb_neardup_lsh": "plane-weight table broadcast, tables x planes rows",
    # IVF/SemDeDup centroid table: sqrt(n) rows, k x dim floats
    # (plans/similarity.py:340)
    "semdedup_prune": "centroid broadcast, sqrt(n) rows",
    # 1-row sketch-vs-exact scalar frame (plans/analytics.py:382)
    "approx_aggs": "1-row sketch/exact scalar broadcast",
    # 1-row LM totals (N, V) scalar frame (plans/lm.py score_lm_nll)
    "text_repetition": "1-row LM-totals scalar broadcast",
    # bm25 fused ad-hoc path: the corpus-stats aggregate (n, avgdl,
    # per-vocab-term df — ONE row) broadcasts into the scoring projection
    # (plans/search.py, r10 single-job fusion)
    "text_fingerprint": "1-row bm25 corpus-stats scalar broadcast",
    # corpus-size scalar N for the idf denominator (plans/text.py
    # tfidf_top_terms: crossJoin(F.broadcast(d.agg(count))) — ONE row)
    "tfidf_top_terms": "1-row corpus-count scalar broadcast",
}

# Queries whose plan legitimately contains a single-partition exchange,
# with the bound that keeps it harmless at scale.
SINGLE_PARTITION_ALLOW = {
    "sort_rank_topk": "rank window over TakeOrderedAndProject's k=100 rows",
    "topk_until_leap": "leap scan over top-k survivors only",
    "pivot_wide": "unpivot of a 750-row pivoted frame (bounded by key card.)",
}


def _explain(df) -> str:
    jdf = df._jdf
    jvm = df.sparkSession._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return jdf.queryExecution().explainString(mode)


def _markers(plan: str) -> dict:
    """Parse the formatted-explain DETAIL sections (one ``(id) NodeName``
    block per physical node id — the tree above repeats shared subtrees, so
    counting tree lines double-counts reused exchanges)."""
    sections: dict[int, tuple[str, str]] = {}
    for m in re.finditer(
        r"^\((\d+)\) ([A-Za-z][\w]*)", plan, flags=re.M
    ):
        nid = int(m.group(1))
        end = plan.find("\n(", m.end())
        sections[nid] = (m.group(2), plan[m.start(): end if end > 0 else len(plan)])

    def nodes(name):
        return [s for n, s in sections.values() if n == name]

    ex_kinds, sp_unbounded = [], 0
    for nid, (nname, s) in sections.items():
        if nname != "Exchange":
            continue
        m = re.search(r"Arguments: (\w+)", s)
        kind = m.group(1) if m else "?"
        ex_kinds.append(kind)
        if kind == "SinglePartition":
            # A single-partition exchange is the SCALABLE global-aggregate
            # merge shape iff its child is a partial aggregate (each input
            # partition contributes one pre-aggregated row).  Find the tree
            # line `... Exchange (nid)` and look at the node one level
            # below; anything other than an aggregate means the exchange
            # moves O(rows) to one task — flag it.
            tm = re.search(
                rf"^(.*)\bExchange \({nid}\)\s*$\n^.*?\+- (?:\* )?(\w+)",
                plan,
                flags=re.M,
            )
            child = tm.group(2) if tm else "?"
            if child not in (
                "HashAggregate", "SortAggregate", "ObjectHashAggregate",
                "TakeOrderedAndProject",
            ):
                sp_unbounded += 1
    scans = nodes("Scan")
    pushed = [re.search(r"PushedFilters: \[([^\]]*)\]", s) for s in scans]
    return {
        "exchanges": sum(
            1 for k in ex_kinds if k in ("hashpartitioning", "rangepartitioning")
        ),
        "single_part": sum(1 for k in ex_kinds if k == "SinglePartition"),
        "sp_unbounded": sp_unbounded,
        "bhj": len(nodes("BroadcastHashJoin")),
        "smj": len(nodes("SortMergeJoin")),
        "shj": len(nodes("ShuffledHashJoin")),
        "bnlj": len(nodes("BroadcastNestedLoopJoin")),
        "cartesian": len(nodes("CartesianProduct")),
        "codegen": len(set(re.findall(r"\[codegen id : (\d+)\]", plan))),
        "scans": len(scans),
        "pushed_nonempty": sum(
            1 for m in pushed if m and m.group(1).strip()
        ),
        "aqe": "AdaptiveSparkPlan" in plan,
    }


def _existing_rows(path: str) -> dict[str, str]:
    """Parse the query rows out of a previously-written docs/PLANS.md so a
    filtered `[names...]` run MERGES into the table instead of clobbering it
    down to the audited subset (round-10 postmortem: a 1-name run left the
    round-end plan evidence holding 1 of 52 rows)."""
    try:
        with open(path) as fh:
            text = fh.read()
    except OSError:
        return {}
    rows: dict[str, str] = {}
    for line in text.splitlines():
        m = re.match(r"\| ([A-Za-z_]\w*) \| \d", line)
        if m:
            rows[m.group(1)] = line
    return rows


def main():
    from exstream_implementation_spark.plans import QUERIES
    from exstream_implementation_spark.session import get_spark

    names = sys.argv[1:] or list(QUERIES)
    # AQE off for the CAPTURE only: an adaptive plan defers whole-stage
    # codegen assignment to runtime, so `[codegen id : n]` annotations are
    # absent from explain output.  Join strategies, exchanges and pushdown
    # are identical in the initial plan; production sessions run AQE-on.
    spark = get_spark(
        app_name="plan-audit",
        shuffle_partitions=32,
        extra_conf={"spark.sql.adaptive.enabled": "false"},
    )

    rows, failures = [], []
    for name in names:
        t0 = time.time()
        try:
            df = QUERIES[name](spark, SF_DIR)
            plan = _explain(df)
        except Exception as e:  # a query that cannot even plan is a failure
            failures.append(f"{name}: plan build error: {str(e)[:200]}")
            continue
        m = _markers(plan)
        if m["cartesian"]:
            failures.append(f"{name}: CartesianProduct in plan")
        if m["bnlj"] and name not in BNLJ_ALLOW:
            failures.append(
                f"{name}: BroadcastNestedLoopJoin not on allowlist"
            )
        if m["sp_unbounded"] and name not in SINGLE_PARTITION_ALLOW:
            failures.append(
                f"{name}: non-aggregate Exchange SinglePartition "
                "not on allowlist"
            )
        note = ""
        if m["bnlj"] and name in BNLJ_ALLOW:
            note = BNLJ_ALLOW[name]
        elif m["sp_unbounded"] and name in SINGLE_PARTITION_ALLOW:
            note = SINGLE_PARTITION_ALLOW[name]
        rows.append((name, m, round(time.time() - t0, 2), note))
        print(f"audited {name} [{rows[-1][2]}s]")

    lines = [
        "# Physical-plan audit (generated by tools/plan_audit.py)",
        "",
        f"Scale factor dir: `{SF_DIR}` — plans captured via "
        "`explain(formatted)` without execution; AQE may further improve "
        "them at runtime (coalesce, skew-split, SMJ→BHJ).",
        "",
        "Hard rules enforced: no `CartesianProduct`; "
        "`BroadcastNestedLoopJoin` only on an allowlist where the broadcast "
        "side is provably bounded (O(1)/O(k)/O(#anomalies) rows, never "
        "O(input)); `Exchange SinglePartition` only as the merge step of a "
        "two-phase global aggregate (child is a partial HashAggregate — one "
        "pre-aggregated row per input partition crosses the wire) or on an "
        "allowlist bounding the moved rows.",
        "",
        "| query | shuffles | 1-part | BHJ | SMJ/SHJ | BNLJ | codegen | "
        "scans | pushed | bounded-exchange note |",
        "|---|---|---|---|---|---|---|---|---|---|",
    ]
    out_path = os.path.abspath(
        os.path.join(os.path.dirname(__file__), "..", "docs", "PLANS.md")
    )
    fresh = {
        name: (
            f"| {name} | {m['exchanges']} | {m['single_part']} | {m['bhj']} "
            f"| {m['smj'] + m['shj']} | {m['bnlj']} | {m['codegen']} "
            f"| {m['scans']} | {m['pushed_nonempty']} | {note} |"
        )
        for name, m, _, note in rows
    }
    # merge: audited rows refresh, unaudited rows carry over, rows for
    # queries no longer in the catalog drop; registry order throughout
    carried = _existing_rows(out_path) if len(names) < len(QUERIES) else {}
    n_carried = 0
    for name in QUERIES:
        line = fresh.get(name) or carried.get(name)
        if line:
            n_carried += name not in fresh
            lines.append(line)
    lines += [
        "",
        "Column notes: *shuffles* counts hash+range repartition exchanges in "
        "the initial plan (AQE coalesces at runtime); *1-part* counts "
        "single-partition exchanges — every one audited here is either the "
        "merge step of a two-phase global aggregate (one pre-aggregated row "
        "per partition) or an allowlisted bounded move; *pushed* counts "
        "parquet scans with non-empty `PushedFilters` (row-group skipping "
        "active); *codegen* counts distinct WholeStageCodegen spans (capture "
        "session runs AQE-off so codegen ids are printed; production "
        "sessions run AQE-on).",
        "",
    ]
    if failures:
        lines.append("## FAILURES")
        lines += [f"- {f}" for f in failures]
    with open(out_path, "w") as fh:
        fh.write("\n".join(lines) + "\n")
    print(f"\nwrote docs/PLANS.md — {len(rows)} queries audited "
          f"({n_carried} carried over), {len(failures)} failures")
    for f in failures:
        print(f"FAIL {f}")
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
