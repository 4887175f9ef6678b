"""Benchmark harness: run the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and print
ONE JSON line:

    {"metric": "total_query_sec", "value": N, "unit": "sec",
     "queries": {"q1_pricing_summary": sec, ...}, "sf": 0.1}

Per-rep samples and host-health controls (``reps``/``ctrl``/
``ctrl_ref``) go to a SIDECAR file (default BENCH_REPS.json next to
this script; override with SPARK_GRAFT_REPS_FILE), NOT the stdout
line. MEASUREMENT BUG FIX (opt round r15): the driver tail-captures
only the last 2000 characters of stdout, and embedding reps pushed
the single JSON line past that window in rounds 13 AND 14 —
BENCH_r13.json and BENCH_r14.json both carry ``parsed: null``
(exactly the round-6 fingerprint overflow, re-introduced by the r13
reps column). The stdout line is now the 5 contract keys only
(~1.5 KB at 48 queries); everything else rides sidecars.

``ctrl``/``ctrl_ref`` (r15): each query's host-health control series —
a FIXED 10 MB Arrow round-trip timed before the first rep and before
any divergence-triggered extra rep, vs the session reference taken on
the freshly-warmed pool. A rep whose nearest control reads far above
``ctrl_ref`` ran on a contended host; the artifact says so without
re-litigating Arrow inflation per row (VERDICT r14 task 2).

Each query is fully executed via the noop sink (all columns computed,
nothing collected to the driver). Use sf0.01/sf0.001 locally while
iterating:  SPARK_GRAFT_SF_DIR=/root/testdata/sf0.01 python bench.py

Per-query PLAN FINGERPRINTS (operator -> count, taken from the
truly-final AQE plan after an untimed execution) are written to a
SIDECAR file (default BENCH_PLANS.json next to this script; override
with SPARK_GRAFT_PLAN_FILE) so a round-over-round diff shows plan
regressions — an extra Exchange, a lost ReusedExchange, a join
strategy flip — without reading 28 full plans. They are deliberately
NOT embedded in the stdout JSON: the driver tail-captures stdout and
the fingerprint payload pushed round 6's single line past the capture
window (BENCH_r06.json parsed:null). The compact metric JSON must
stay the final — and short — stdout line. Disable fingerprints with
SPARK_GRAFT_PLAN_FINGERPRINTS=0 (the fingerprint pass re-executes each
query once outside the timed window).
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

# headline set: one per operator family (relational scan/agg, joins,
# window, pipe subprocess, aggregate family, fan-out, dedup, text,
# similarity). Keep in sync with workloads as families are added.
HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q6_forecast_revenue",
    "events_hourly_rollup",
    "events_sessionize",
    "part_supplier_topn",
    "q2_min_cost_supplier",
    "q8_market_share",
    "q21_sole_failing_supplier",
    "price_percentiles",
    "asof_click_attribution",
    "pipe_wordcount",
    "agg_long_sum",
    "agg_long_sum_native",  # times the same aggregate_typed plan as agg_long_sum
    "agg_value_histogram",
    "fanout_two_branches",
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "dedup_embedding_lsh",
    "text_quality_score",
    "curation_pipeline",
    "ann_cosine_topk",
    "orders_grouping_sets",
    "stratified_sample",
    # round-5 extension surface
    "pack_sequences_global",
    "text_boilerplate_removal",
    "text_pii_redact",
    # round-6 extension surface
    "salted_join_revenue",
    "temperature_sample",
    "incremental_dedup",
    # round-7 extension surface
    "dedup_embedding_lsh_auto",
    "semantic_dedup",
    "substring_decontamination",
    "quality_model_score",
    "duplicate_span_mining",
    "text_winnowing",
    # round-8 extension surface
    "semantic_dedup_auto",
    # round-10 extension surface: the coarse-fine scale path the auto
    # budget reroutes to past FLAT_ASSIGN_BUDGET n*k cells
    "semantic_dedup_hier",
    # round-10: exact-integer priority sampling (TakeOrderedAndProject
    # plan — zero exchanges; the weighted-without-replacement pick)
    "priority_sample_docs",
    # round-11 extension surface: the IVF-PQ ANN scale path (IVFADC —
    # probed-cell-pruned asymmetric-distance top-k) and the composed
    # mixture -> quality -> token-budget -> global-shuffle selection
    # pipeline (the new corpus-selection operators working as one plan)
    "ann_ivfpq_adc",
    "selection_pipeline",
    # round-12 extension surface: the Bloom-prefiltered exact
    # anti-join (blocklist screen past broadcast range — negatives
    # keep scan speed, only the might-contain sliver shuffles)
    "bloom_decontaminate",
    # round-12 extension surface: corpus management (quality-aware
    # keep rule, snapshot diff) and blocked fuzzy record linkage
    "dedup_keep_best",
    "corpus_diff",
    "fuzzy_join_parts",
    # round-14 extension surface: tokenizer application (greedy
    # longest-match vocab segmentation — fused one-fence/one-exchange
    # Arrow kernel; 1.02x DuckDB at sf4.0, CROSSOVER r14 addendum)
    "text_vocab_tokenize",
    # round-15 extension surface: corpus-wide repeated-passage removal
    # with reassembly (first-occurrence-wins encoded-min, no corpus
    # window/sort; 1.99x DuckDB at sf8.0, CROSSOVER r15 addendum)
    "corpus_segment_dedup",
]


#: operators worth fingerprinting: shuffles, joins, aggregates, sorts,
#: windows, and the AQE runtime artifacts (ReusedExchange appearing =
#: a shared stage; AQEShuffleRead = coalesced/skew-split reads)
_PLAN_OPS = (
    "Exchange",
    "ReusedExchange",
    "AQEShuffleRead",
    "SortMergeJoin",
    "BroadcastHashJoin",
    "BroadcastNestedLoopJoin",
    "ShuffledHashJoin",
    "HashAggregate",
    "ObjectHashAggregate",
    "SortAggregate",
    "Window",
    "Sort",
    "Generate",
    "ArrowEvalPython",
    "FlatMapGroupsInPandas",
    "MapInPandas",
)


def plan_fingerprint(df) -> dict[str, int]:
    """Operator counts from the FINAL AQE plan: execute the DataFrame
    (its own QueryExecution, so AQE finalizes in place — the noop-write
    path above plans a separate command), then parse the formatted
    explain. Pre-execution explain would OVERSTATE stages
    (isFinalPlan=false keeps exchanges AQE later reuses or elides)."""
    import contextlib
    import io as _io

    # collect() runs THIS Dataset's QueryExecution (count()/noop-write
    # would plan a separate command and leave this one un-finalized);
    # headline outputs are aggregate-sized, so the driver transfer is
    # trivial
    df.collect()
    buf = _io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    text = buf.getvalue()
    # the executed AQE tree prints "== Final Plan ==" then
    # "== Initial Plan ==" — fingerprint the FINAL section only (the
    # initial tree keeps exchanges AQE later reused or broadcast away)
    if "== Initial Plan ==" in text:
        text = text.split("== Initial Plan ==", 1)[0]
    # tree lines look like "+- SortMergeJoin Inner (12)" / "(12)" refs;
    # count the tree section's operator mentions by node name
    counts: dict[str, int] = {}
    for line in text.splitlines():
        s = line.strip().lstrip("+-:* ")
        op = s.split(" ", 1)[0].split("(", 1)[0].strip()
        for want in _PLAN_OPS:
            if op == want:
                counts[want] = counts.get(want, 0) + 1
    return counts


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0

    from hadoop_multiple_streaming_spark import workloads
    from hadoop_multiple_streaming_spark.session import get_spark

    workloads.load_all()
    spark = get_spark(
        app_name="hms-spark-bench",
        master=f"local[{cpus}]",
        shuffle_partitions=int(cpus),
    )
    spark.sparkContext.setLogLevel("ERROR")

    # pre-warm the Python/Arrow worker POOL across every core before
    # any timed rep (r13): the per-query warm pass forks workers only
    # for the partitions its own plan touches, so the first Arrow-heavy
    # queries were still paying pool cold-start inside their timed
    # window on a cold driver host. One trivial mapInPandas over
    # cpus-many partitions forks the whole pool once, here, untimed
    # (workers are reused afterwards — spark.python.worker.reuse is
    # pinned on in session.py).
    try:
        spark.range(int(cpus), numPartitions=int(cpus)).mapInPandas(
            lambda it: it, "id long"
        ).write.mode("overwrite").format("noop").save()
    except Exception as e:
        print(f"[bench] arrow pre-warm FAILED: {str(e)[:200]}", file=sys.stderr)

    # host-health control (r15, VERDICT task 2): a FIXED-SIZE Arrow
    # round-trip — 1.25 M longs ≈ 10 MB through mapInPandas and back —
    # timed immediately before every timed rep. Identical work every
    # time, so its duration is a pure host-health signal: when a rep's
    # control reads far above the session reference, that rep ran on a
    # contended host and the artifact says so mechanically, instead of
    # the builder re-litigating Arrow inflation row by row each round.
    # It doubles as the per-query worker-pool pre-warm.
    _CTRL_ROWS = 1_250_000

    def arrow_control() -> float:
        # FIXED 8 partitions regardless of cpus: the control is a
        # relative host-health probe (compared against ctrl_ref from
        # the same session), so constancy matters, not parallelism —
        # and 8 tasks keeps its own scheduling floor small enough to
        # run per-rep without doubling bench wall time
        t0 = time.monotonic()
        spark.range(_CTRL_ROWS, numPartitions=8).mapInPandas(
            lambda it: it, "id long"
        ).write.mode("overwrite").format("noop").save()
        return time.monotonic() - t0

    # session reference: min of 3 controls on the freshly-warmed pool
    try:
        ctrl_ref = round(min(arrow_control() for _ in range(3)), 3)
    except Exception as e:
        print(f"[bench] control reference FAILED: {str(e)[:200]}", file=sys.stderr)
        ctrl_ref = -1.0

    # ctrl-spike rep retry (r16, VERDICT task 1): a query whose EVERY
    # observed control reads far above ctrl_ref ran entirely inside a
    # host-contention window — its min is polluted no matter how well
    # the reps agree (r15's driver row: dedup_minhash_lsh 11.18 s on
    # the cold 32c run vs 1.53 s on the same HEAD at 8c). When that
    # holds, the adaptive loop takes bounded EXTRA reps (cap 5 total,
    # each preceded by a fresh control) so the min gets a chance to
    # land on a quiet window; one quiet control anywhere in the query's
    # series clears the flag. The timed region per rep is unchanged —
    # this only adds reps, never removes or re-times any.
    _CTRL_SPIKE_FACTOR = 3.0
    _MAX_REPS_CONTENDED = 5

    def all_controls_contended(controls: list[float]) -> bool:
        if ctrl_ref <= 0:
            return False
        valid = [c for c in controls if c >= 0]
        return bool(valid) and min(valid) > _CTRL_SPIKE_FACTOR * ctrl_ref

    names = [n for n in HEADLINE if n in workloads.QUERIES]
    # warm IMMEDIATELY before timing each query (not one global warm
    # pass): the generated-class cache is shared across queries, and a
    # whole-catalog warm pass evicts the early queries' classes before
    # the timed pass reaches them — the "warm" run then re-pays
    # multi-second Janino compiles. Per-query warm+time keeps the
    # steady-state measurement honest (session.py also raises
    # spark.sql.codegen.cache.maxEntries as a second line of defense).
    times: dict[str, float] = {}
    reps: dict[str, list[float]] = {}
    ctrl: dict[str, list[float]] = {}
    # a failed warm pass is recorded, not hidden: the timed reps may
    # still succeed (a first-run-only failure), so the sidecar is the
    # only place it shows
    warm_errors: dict[str, str] = {}
    for name in names:
        # warm pass (Janino compiles, shuffle init for the plan
        # shapes), then an ADAPTIVE min-of-k (k=2..4): the host shares
        # cores with other tenants, and round-11's same-HEAD driver
        # runs spread 2.2x on single-sample timing. Take 2 reps; while
        # the two fastest disagree by >20%, add reps up to 4 — a
        # contention spike costs extra reps instead of polluting the
        # recorded number. Stable queries still pay only 2 reps, so
        # total wall time stays sane; the reported value reproduces a
        # quiet-host min-of-4 within the 20% convergence bound.
        try:
            workloads.QUERIES[name](spark, sf_dir).write.mode("overwrite").format(
                "noop"
            ).save()
        except Exception as e:
            warm_errors[name] = f"{type(e).__name__}: {str(e)[:500]}"
            print(f"[bench] {name} warm pass FAILED: {str(e)[:200]}", file=sys.stderr)
        samples: list[float] = []
        controls: list[float] = []
        try:
            max_reps = 4
            while len(samples) < max_reps:
                # host-health control: before the FIRST rep (doubles
                # as this query's Arrow pre-warm) and before every
                # divergence-triggered extra rep (3rd/4th/5th — exactly
                # where a contended host needs machine-flagging); the
                # stable second rep skips it to keep wall time sane
                if len(samples) != 1:
                    try:
                        controls.append(round(arrow_control(), 3))
                    except Exception:
                        controls.append(-1.0)
                t0 = time.monotonic()
                df = workloads.QUERIES[name](spark, sf_dir)
                df.write.mode("overwrite").format("noop").save()
                samples.append(time.monotonic() - t0)
                # every control so far spiked -> the min is suspect;
                # allow bounded extra reps hoping for a quiet window
                # (a single quiet control clears the flag)
                contended = all_controls_contended(controls)
                if contended:
                    max_reps = _MAX_REPS_CONTENDED
                if len(samples) >= 2 and not contended:
                    s = sorted(samples)
                    if s[1] <= s[0] * 1.2:
                        break
            times[name] = round(min(samples), 3)
        except Exception as e:
            print(f"[bench] {name} FAILED: {str(e)[:200]}", file=sys.stderr)
            times[name] = -1.0
        # every rep, not just the min (r13): a sustained-slow query
        # (all reps high) reads differently from a convergence spike
        # (one outlier rep) — the per-round record should tell them
        # apart without a re-run
        reps[name] = [round(s, 3) for s in samples]
        ctrl[name] = controls
    total = round(sum(t for t in times.values() if t >= 0), 3)
    # the stdout contract line carries ONLY the 5 driver keys; reps and
    # host-health controls ride a sidecar so the line stays far under
    # the driver's 2000-char stdout tail capture (see module docstring)
    payload = {
        "metric": "total_query_sec",
        "value": total,
        "unit": "sec",
        "queries": times,
        "sf": sf,
    }
    reps_file = os.environ.get(
        "SPARK_GRAFT_REPS_FILE", os.path.join(REPO, "BENCH_REPS.json")
    )
    try:
        with open(reps_file, "w") as fh:
            json.dump(
                {
                    "sf": sf,
                    "value": total,
                    "queries": times,
                    "reps": reps,
                    "ctrl": ctrl,
                    "ctrl_ref": ctrl_ref,
                    "warm_errors": warm_errors,
                },
                fh,
                indent=1,
                sort_keys=True,
            )
        print(f"[bench] reps/ctrl sidecar -> {reps_file}", file=sys.stderr)
    except OSError as e:
        print(f"[bench] reps sidecar write FAILED: {e}", file=sys.stderr)
    if os.environ.get("SPARK_GRAFT_PLAN_FINGERPRINTS", "1") != "0":
        plans: dict[str, dict[str, int]] = {}
        for name in names:
            try:
                plans[name] = plan_fingerprint(
                    workloads.QUERIES[name](spark, sf_dir)
                )
            except Exception as e:
                print(f"[bench] fingerprint {name} FAILED: {str(e)[:200]}", file=sys.stderr)
        # sidecar file, NOT stdout: the driver tail-captures stdout and
        # the fingerprints overflowed it in round 6 (parsed:null)
        plan_file = os.environ.get(
            "SPARK_GRAFT_PLAN_FILE", os.path.join(REPO, "BENCH_PLANS.json")
        )
        try:
            with open(plan_file, "w") as fh:
                json.dump({"sf": sf, "plans": plans}, fh, indent=1, sort_keys=True)
            print(f"[bench] plan fingerprints -> {plan_file}", file=sys.stderr)
        except OSError as e:
            print(f"[bench] plan file write FAILED: {e}", file=sys.stderr)
    # the compact metric JSON is the FINAL stdout line — keep it that way
    line = json.dumps(payload)
    if len(line) > 1900:
        # loud tripwire: the driver captures only the last 2000 chars
        # of stdout — a line near/over that silently becomes
        # parsed:null in BENCH_r{N}.json (it happened in r6, r13, r14)
        print(
            f"[bench] WARNING: stdout line {len(line)} chars —"
            " approaching the driver's 2000-char capture window",
            file=sys.stderr,
        )
    print(line)
    return 0


if __name__ == "__main__":
    sys.exit(main())
