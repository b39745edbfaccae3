#!/usr/bin/env python3
"""Append/refresh a heavy-set decade section of SCALING.md from two
filtered Bench logs (dev tooling only).

Usage:
  tools/scaling_sf1.py /tmp/bench_heavy_sf01.log /tmp/bench_heavy_sf1.log
  tools/scaling_sf1.py /tmp/bench_heavy_sf1.log /tmp/bench_heavy_sf10.log sf10

The third arg names the TOP decade ("sf1" default → compares the
driver's sf0.1 against fixtures/sf1 under the sf1-decade markers;
"sf10" compares fixtures/sf1 against fixtures/sf10 under the
sf10-decade markers). The exponent fit is log(t_hi/t_lo)/log(10).
Both runs must use the same query filter and SPARK_GRAFT_CPUS so
suite-context effects cancel.
"""
import json
import math
import re
import sys

R9_NARRATIVE = (
    "Historical note \u2014 the narrative below quotes ROUND-10 "
    "measurements and is not recomputed on reruns; live numbers are "
    "the table above. "
    "What THIS rehearsal caught (round 10, the q174/q191/q194 \u26a0 "
    "rows if present): q174's verify stage could lose its parallelism "
    "to a plan flake \u2014 when AQE broadcast the byte-tiny "
    "candidate-pair table, the compute-bound intersect stage inherited "
    "the PROBE side's partitioning, which rode the 2-split bench "
    "parquet scan through the cached gram relation: ~700 core-seconds "
    "of hash-set intersects serialized onto 2 cores (451 s first-plan "
    "at sf1 vs 28\u201341 s at width 32 \u2014 2-task vs 32-task "
    "verify stages, a since-removed isolation main (git history)). Fix (the knnJoin 1-split lesson, "
    "same class): prefixJaccard's verify probe side is explicitly "
    "repartitioned to cluster width \u2014 a user repartition AQE "
    "never coalesces \u2014 so the stage width is deterministic. "
    "Round-9 fixes still in force: knnJoin scored pass spread to "
    "cluster width, rankedNeighborsIvf \u00d78 bucket-key salt, "
    "bench-scale maxPartitionBytes (4m, graft.util.Session), and "
    "the PPJoin in-fan-out length filter (660 s quadratic tail "
    "\u2192 26.9 s on this closed ~31-word vocabulary; open-vocabulary "
    "corpora lean on the prefix filter, closed ones escalate to capped "
    "q23 / LSH q24 as documented).")

R12_SF1_NARRATIVE = (
    "Historical note — numbers below quote the ROUND-12 measurement "
    "(2026-08-16 fixture regeneration) and are NOT recomputed on later "
    "reruns; the live numbers are the table above. "
    "Round-12 refresh (regenerated fixtures after a host reset; 46 "
    "queries — the prior 42 plus q275 DPP, q276 bloom pruning, q277 "
    "HLL distinct-IVM, q278 signed-CMS frequency-IVM, the last two "
    "flat as fixed-size-state operators must be, exp 0.23/0.25). The "
    "two ⚠ rows are q191/q194 — the BRUTE-FORCE all-pairs "
    "mutual-NN / hard-negative mining ground truths, quadratic BY "
    "DESIGN (they exist to gate the sampled and IVF production "
    "variants' equality contracts; those variants hold exp ≤ "
    "0.82 here: q247 0.62, q248 0.82, q254 0.73, q265/q266 via the "
    "3-SF record). Their exponents read higher than the r10 rows "
    "(0.91/0.87 → 1.31/1.34) because the sf0.1 DENOMINATORS "
    "halved in this leaner 46-query pass (less suite context than "
    "the old 42-run session), not because sf1 got slower (19.6 "
    "→ 22.1 s, 24.6 → 27.5 s, within noise of the "
    "regenerated fixture). Disposition unchanged from the r11 "
    "verdict: exact ground truth stays at sf1 and below, the "
    "sampled/IVF miners are the decade representatives.")

R13_SF1_NARRATIVE = (
    "Historical note — the narrative below quotes the ROUND-13 "
    "measurement (2026-08-16, 47 queries) and is NOT recomputed on "
    "later reruns; the live numbers (round 14+: 49 queries — "
    "q62/q82, the composed curation lineages, joined the decade) are "
    "the table above. "
    "Round-13 refresh: q191/q194 — the brute-force "
    "all-pairs mining ground truths and this decade's only ⚠ rows — "
    "are RETIRED from the sf1 decade under the q254/q255 rule: exact "
    "ground truth stays at sf0.1 and below, where the driver's "
    "CORRECTNESS gate and the q247–q249/q265–q267 equality-contract "
    "audits actually consume them; their decade representatives are "
    "the sampled/IVF production miners (q247/q248 at exp 0.69/0.87 "
    "here, q265–q267 at ≤ 0.55 in the sf10 table). Re-admitting them "
    "to any decade needs a documented reduced scope, not a silent "
    "re-run — the same contract as q254/q255's sf10 retirement. With "
    "that tiering applied the sf1 decade is FLAG-FREE (worst exp "
    "1.00 = q174's honest linear-in-admitted-pairs shape under its "
    "pairBudget admission). New this round: the streaming stateful "
    "family joins the decade — q86 sessions 0.57, q204 "
    "order-independent checksum 0.01 (FLAT: the constant-size "
    "abelian state doing exactly what it promises), q228 percentiles "
    "0.30, next to the q277/q278 sketch-IVM pair at 0.19/0.24 — and "
    "q279 composes DPP + runtime bloom pruning through the "
    "month-partitioned star fact at exp 0.27. One caveat this table "
    "carries: q86's row here was measured with its original "
    "memory-sink read-back, which the sf10 rehearsal then caught "
    "OOM-ing the 8 GB bench JVM (sessions are corpus-sized; a memory "
    "sink collects them on the driver) — the sink moved to durable "
    "parquet and the POST-FIX q86 decade rows are the sf10 table's "
    "(both of its columns measured after the fix).")

R10_NARRATIVE = (
    "Second rehearsal decade (round 10): sf1 → sf10 on the IVF + "
    "graph heavy set, after the round-10 fixes (corpus-scaled "
    "kmeans IVF index, hash-sampled exact audits in q247/q249). "
    "Under C ≈ √n the full self-mining IVF pass is Θ(nprobe·n^1.5) "
    "by design — assignment (n·C) and probe scan (n·nprobe·n/C) "
    "balance at √n — so exponents up to ~1.5 are the HONEST "
    "asymptote for the kmeans-index mining queries, not a defect; "
    "the flag threshold below still marks anything past ~linear "
    "for triage so regressions in the linear operators stay "
    "visible.\n\n"
    "What THIS decade caught: q221 (k-core peel) went exp 1.55 / "
    "479 s — BOTH edge-rewriting forms (per-round semi-join "
    "re-keying, then broadcast anti-join + per-round edge "
    "localCheckpoint, 513 s) pay O(m) materialization per round and "
    "cross the memory→disk tier at sf10's ~200M-directed-edge "
    "co-purchase graph. Fix: the peel now aggregates the edge set "
    "ONCE and keeps |nodes|-sized degree-table state; each round "
    "subtracts a correction counted from a broadcast probe of the "
    "small drop frontier and reads surviving edges as Σ dg ÷ 2 "
    "from the same table — 134.5 s, exp 1.02 (the residual cost is "
    "the one-time pair fan-out + degree build, linear by design). "
    "The peel lesson generalizes: express the round as work "
    "proportional to what LEAVES, never to what survives.\n\n"
    "Round-11 extension — the dedup/text set joins the decade, and "
    "the two ⚠ rows get their scale-safe replacements measured side "
    "by side: q265/q266 re-run the q254/q255 mining contracts over a "
    "deterministic 256-anchor hash sample (index side full-corpus; "
    "output = the full mining restricted to both-endpoints-sampled "
    "pairs, spec-pinned) at exp 0.55/0.53 — build-dominated, linear "
    "in the corpus for fixed m — and q267 adds the int8-packed probe "
    "scan (exp 0.53). q254/q255 stayed in the r11 table as the "
    "honest full-self-mining asymptote (round 12 retired them to the "
    "sf1 tier — see the tiering paragraph below); at 100 TB 'mine "
    "every vector' is the wrong query, and the sampled rows are the "
    "production path. "
    "What the round-11 rehearsal CAUGHT: q174's lossless prefix "
    "join — candidate-pair bound 312K (sf0.1) → 39.7M (sf1) → "
    "4.28G (sf10) on the closed fixture vocabulary; at sf10 the "
    "pair-distinct's shuffle alone filled the 252 GB node's disk "
    "('No space left on device' 18 minutes in) and took the whole "
    "bench session down. The operator now computes that exact bound "
    "BEFORE the fan-out (Σ C(c,2) over the capped prefix postings — "
    "one cheap agg) and REFUSES over pairBudget (default 1e9) with "
    "the measured bound and the escalation path in the error — "
    "capped q23 (exp 0.13) and LSH q24 (exp 0.14) are the measured "
    "scale paths for such corpora, and q73/q78/q69 (substring "
    "dedup, containment) hold exp 0.22–0.25 through the decade. A "
    "job that will fill the cluster's disks must refuse at "
    "admission time, not 20 minutes in. q271 (the composed "
    "cap→split→mine chain) holds exp 1.01 — linear, with a larger "
    "constant than q265's plain-index mining because the whole "
    "build→flag→split→reassign chain re-derives per consumer "
    "branch; MEASURED both ways before keeping it unmaterialized "
    "(column pruning drops the 64-dim vectors from count-only "
    "consumers: q263 6.1 s unmaterialized vs 23.1 s checkpointed "
    "at sf10, q271 173.8 s vs 192.8 s — the one-shot kernel is not "
    "the iterated-state case the localCheckpoint rule targets).\n\n"
    "Round-12 tiering (the r11 verdict's q191/q194 disposition, "
    "applied): q254/q255 — full self-mining on the kmeans index, the "
    "only ⚠ rows of the three-decade record (sf10 exp 1.22/1.17, "
    "216 s/194 s, the HONEST Θ(n^1.5) asymptote of 'mine every "
    "vector' under C ≈ √n) — are RETIRED from the sf10 decade and "
    "kept as the exact full-mining ground truth at sf1 and below, "
    "where they still gate the sampled path's equality contract "
    "(q265/q266 = the full pass restricted to both-endpoints-sampled "
    "pairs, spec-pinned). Their sf10-decade representatives are the "
    "landed production miners q265/q266/q267 (exp ≤ 0.55). The r11 "
    "row values are preserved above this paragraph's history in git; "
    "re-admitting them needs a documented reduced scope, not a "
    "silent re-run. q271's per-consumer re-derivation constant got "
    "the r11 verdict's remaining middle point measured: a NARROW "
    "(vec_id, bucket, parent, was_split) checkpoint of the split "
    "kernel with vectors re-joined from the build checkpoint WINS at "
    "sf0.1 (5.8 s vs 7.3 s unmaterialized) and LOSES at sf10 "
    "(194.7 s vs 183.2 s, a since-removed isolation main (git history), fresh JVMs): the kernel "
    "replay is proportional to the FLAGGED membership while the "
    "re-join pays a full-corpus hash join per consumer branch — at "
    "scale the flagged share shrinks and recompute beats "
    "materialization, so unmaterialized stays the default "
    "(the kmeansBucketsCapped flag that kept the measured alternative "
    "was later deleted unused; it is in git history). Round-12 also "
    "brings the "
    "relational/IVM family into the second decade for the first "
    "time — q262 join-IVM (broadcast bilinear delta terms), q151 "
    "star join, q229 bucketed co-located join, q88 incremental "
    "upsert — exactly the shapes whose constants change character "
    "when the base side stops fitting in memory; all four hold "
    "sublinear (exp 0.60/0.63/0.61/0.43), no ⚠. The three round-12 "
    "operators rehearsed through both decades on arrival: q272 outer "
    "interval join exp 0.56 (trigger-count dominated), q273 top-k IVM "
    "exp 0.48 (θ-admission keeps batches delta-sized), q274 "
    "edit-distance join exp 0.86 — and q274's FIRST sf1 run caught "
    "segment-bucket saturation (30-char keys: 337K → 30.8M candidates "
    "for 10× docs against a ~2.8K-pair truth, a disk-filling ~3G at "
    "sf10), which became the operator's candidate-budget admission "
    "guard plus the 60-char production key (~80× fewer candidates) "
    "BEFORE any production-scale run could hit it — the rehearsal "
    "discipline doing exactly its job.")


def r14_sf1_narrative(rows):
    """Round-14 sf1 paragraph, DERIVED from the loaded rows (same
    regen-stability rule as the sf10 one)."""
    by_q = {q: (exp, t0, t1) for exp, q, t0, t1, _ in rows}

    def cell(prefix):
        for q, (exp, t0, t1) in by_q.items():
            if q.startswith(prefix):
                return f"{q} exp {exp:.2f} ({t0:.1f}s → {t1:.1f}s)"
        return f"{prefix}* not in this run"

    return (
        "Round-14 refresh (this paragraph is recomputed from the live "
        "table on every regen): the composed curation lineages join "
        "the decade — " + cell("q62_") + ", " + cell("q82_") + " — "
        "exercising per-stage admission guards on post-upstream-stage "
        "sizes above sf0.1 for the first time. What THIS rehearsal "
        "caught (round 14): q174's candidate-EMISSION stage could lose "
        "its width the same way its verify stage once did (r10) — the "
        "grouped prefix-posting table is one row per token, byte-tiny "
        "on the closed fixture vocabulary, and AQE could legally "
        "coalesce the post-agg exchange to 1 partition, serializing "
        "the whole C(c,2) explode plus the pair-distinct map side "
        "(237 s in-suite vs 42 s solo at sf1, an in-suite-only plan "
        "flake). Fix: a user repartition to cluster width on the "
        "bucket table before the explode — AQE never coalesces a user "
        "repartition, and the shuffle it adds moves only bucket rows, "
        "not pairs; PlansSpec now requires BOTH width pins "
        "(REPARTITION_BY_NUM ≥ 2) in q174's plan. Post-pin the live "
        "row reads " + cell("q174_") + " — the honest "
        "linear-in-admitted-pairs shape under its pairBudget "
        "admission.")


def r14_sf10_narrative(rows):
    """Round-14 sf10 paragraph, DERIVED from the loaded rows (the
    round-13 ADVICE rule: regen-stable narratives quote live numbers
    or date themselves). rows = [(exp, q, t_lo, t_hi, flag)]."""
    by_q = {q: (exp, t0, t1) for exp, q, t0, t1, _ in rows}

    def cell(prefix):
        for q, (exp, t0, t1) in by_q.items():
            if q.startswith(prefix):
                return f"{q} exp {exp:.2f} ({t0:.1f}s → {t1:.1f}s)"
        return f"{prefix}* not in this run"

    return (
        "Round-14 completion of the set-B decade (this paragraph is "
        "recomputed from the live table on every regen): the streaming "
        "stateful family's second decade — " + cell("q86_") + ", " +
        cell("q204_") + ", " + cell("q228_") + " — plus the sketch-IVM "
        "pair (" + cell("q277_") + ", " + cell("q278_") + "), the "
        "composed runtime-pruning star join (" + cell("q279_") + ") and "
        "the composed curation lineages (" + cell("q62_") + ", " +
        cell("q82_") + "), which exercise per-stage admission guards on "
        "post-upstream-stage sizes for the first time two decades up. "
        "STATE-SIZE NOTE for q228 (streaming exact percentiles): its "
        "state is the per-group value-count distribution — state ∝ "
        "DISTINCT VALUES per group, the one member of the mergeable-"
        "state family without a fixed-size bound (q277 HLL and q278 CMS "
        "keep fixed registers; q204's abelian checksum is constant). On "
        "this fixture the value domain is bounded (event value cents), "
        "so state stays flat through the decade — but on an open domain "
        "state grows with distinct values, and the documented scale "
        "path is the q63 audited approx_percentile sketch. q86's rows "
        "here are both post-fix (durable parquet sink — the r13 "
        "memory-sink OOM rule, PipelineQueries.scala sink note).")


def parse(path):
    m = re.search(r'\{"metric".*\}', open(path).read())
    if not m:
        raise SystemExit(f"no bench JSON in {path}")
    return json.loads(m.group(0))


def main(lo_path, hi_path, top="sf1"):
    lo, hi = parse(lo_path), parse(hi_path)
    lo_name = {"sf1": "sf0.1", "sf10": "sf1"}[top]
    mark_a = f"<!-- {top}-decade:start -->"
    mark_b = f"<!-- {top}-decade:end -->"
    rows = []
    for q in sorted(lo["queries"]):
        t0, t1 = lo["queries"][q], hi["queries"].get(q)
        if t1 is None:
            continue
        exp = math.log(t1 / t0) / math.log(10)
        flag = " ⚠" if exp > 1.15 and t1 > 1.0 else ""
        rows.append((exp, q, t0, t1, flag))
    rows.sort(reverse=True)
    lines = [mark_a, "", f"## {top} decade (heavy set, generated fixtures)",
             ""]
    if top == "sf1":
        lines.append(
            f"Heavy-set rehearsal one decade past the driver's largest SF: "
            f"sf0.1 = driver testdata, sf1 = `fixtures/sf1` "
            f"(tools/gen_sf1.py, ~10× rows, same schemas/distributions). "
            f"Totals: sf0.1 = {lo['value']:.0f}s, sf1 = {hi['value']:.0f}s "
            f"({len(rows)} queries). Exponent = log₁₀(t₁/t₀.₁); "
            f"⚠ = worse than ~linear (exp > 1.15) at a material runtime.")
        lines += ["", R9_NARRATIVE, "", R12_SF1_NARRATIVE,
                  "", R13_SF1_NARRATIVE, "", r14_sf1_narrative(rows)]
    else:
        lines.append(
            f"Heavy-set rehearsal TWO decades past the driver's largest "
            f"SF: sf1 = `fixtures/sf1`, sf10 = `fixtures/sf10` "
            f"(tools/gen_sf1.py 10, ~100× the driver's sf0.1). "
            f"Totals: sf1 = {lo['value']:.0f}s, sf10 = {hi['value']:.0f}s "
            f"({len(rows)} queries). Exponent = log₁₀(t₁₀/t₁); "
            f"⚠ = worse than ~linear (exp > 1.15) at a material runtime.")
        lines += ["", R10_NARRATIVE, "", r14_sf10_narrative(rows)]
    lines += ["", f"| query | {lo_name} | {top} | exp | |",
              "|---|---|---|---|---|"]
    for exp, q, t0, t1, flag in rows:
        lines.append(f"| {q} | {t0:.2f}s | {t1:.2f}s | {exp:.2f} |{flag} |")
    lines += ["", mark_b]
    block = "\n".join(lines)
    md = open("SCALING.md").read()
    if mark_a in md:
        md = re.sub(re.escape(mark_a) + ".*?" + re.escape(mark_b), block,
                    md, flags=re.S)
    else:
        md = md.rstrip() + "\n\n" + block + "\n"
    open("SCALING.md", "w").write(md)
    print(f"{top} decade section written ({len(rows)} queries)")
    for exp, q, t0, t1, flag in rows:
        if flag:
            print(f"  TRIAGE {q}: {t0:.2f}s -> {t1:.2f}s (exp {exp:.2f})")


if __name__ == "__main__":
    main(*sys.argv[1:4])
