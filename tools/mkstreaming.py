#!/usr/bin/env python3
"""Regenerate SCALE.md's streaming-performance block from the shipped
artifact (tools/bench_streaming_r<N>.json) — the mkheadlines rule
applied to the streaming layer: every number in the doc derives from
the committed json, nothing hand-typed.

Usage:
  python3 tools/mkstreaming.py <round> [--write]

With --write, replaces the region between the markers in SCALE.md:

    <!-- mkstreaming:begin -->
    ...
    <!-- mkstreaming:end -->
"""
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
SCALE_MD = os.path.join(HERE, "..", "SCALE.md")

DESC = {
    "kline_jdbc": "reference-parity flagship: parse → enrich → stateful "
                  "dedup → MERGE upsert (embedded Derby)",
    "routed_parquet": "enrich → partitioned parquet per batch + replay "
                      "markers",
    "dedup_incremental": "checkpointed-Bloom exact-dedup admission "
                         "(~5 % planted dups)",
    "ivfpq_append": "frozen-model IVF-PQ maintenance: assign + encode + "
                    "seg-overwrite append (auto-compact at 4 segments)",
    "deduped_binary": "composed near-dup admission → binary-index append, "
                      "exactly-once both stages (auto-compact at 4 "
                      "segments)",
}


def block(rnd: int) -> str:
    with open(os.path.join(HERE, f"bench_streaming_r{rnd}.json")) as f:
        art = json.load(f)
    sus, sat = art["sustained"], art["saturated"]
    out = [
        f"Measured by `tools.StreamingPerf` (r{rnd}): each pipeline driven "
        f"by a rate source for {sus['duration_s']} s per run on "
        f"local[{sus['cpus']}], per-trigger telemetry read back from the "
        "`streaming.Telemetry` table itself (the production observability "
        "surface is the measurement instrument). Two regimes per "
        "pipeline: SUSTAINED (offered rate below capacity — the verdict "
        "is zero lagging batches after warm-up, p95 under the trigger "
        "interval) and SATURATED (offered above capacity — the busy-time "
        "throughput is the capacity estimate). `rows/s busy` = input "
        "rows ÷ summed trigger execution time.", "",
        "| pipeline | trigger | sustained rate | p50 / p95 trigger | "
        "lagging (warm) | capacity (busy rows/s) |",
        "|---|---|---|---|---|---|",
    ]
    for name in sus["pipelines"]:
        u, a = sus["pipelines"][name], sat["pipelines"][name]
        rate = sus["rates"][name]
        if a["rows_per_sec_busy"] > 0:
            cap = (f"{a['rows_per_sec_busy']:,.0f} (at "
                   f"{sat['rates'][name]:,}/s offered)")
        else:
            # no batch COMMITTED inside the saturated window (one
            # offered-rate batch outlives it) — report the sustained
            # run's busy rate instead of a silent 0-as-capacity
            busy_sus = u["input_rows"] * 1000.0 / max(
                1, u["p50_trigger_ms"] * max(1, u["batches"]))
            cap = (f"no batch completed in the {sat['duration_s']} s "
                   f"saturated window at {sat['rates'][name]:,}/s "
                   f"offered; sustained-run busy rate ≈ "
                   f"{busy_sus:,.0f}/s")
        out.append(
            f"| `{name}` — {DESC.get(name, name)} | {u['trigger_ms']/1000:g} s "
            f"| {rate:,}/s offered, {u['rows_per_sec_wall']:,.0f}/s "
            f"delivered | {u['p50_trigger_ms']} / {u['p95_trigger_ms']} ms "
            f"| {u['lagging_after_warmup']} of {u['batches']} "
            f"| {cap} |")
    # the index-maintenance pipelines carry compaction evidence (r11
    # VERDICT #2): the in-stream auto-compaction pause sits inside
    # max_trigger_ms; offline_compact_ms is the same O(index) fold
    # timed explicitly after the window
    compacted = [n for n in sus["pipelines"]
                 if "offline_compact_ms" in sus["pipelines"][n]]
    if compacted:
        out.append("")
        out.append(
            "Index-maintenance compaction (the one O(index) pause inside "
            "an otherwise O(batch) loop), measured per pipeline — "
            "in-stream auto-compaction tripped mid-window at threshold 4 "
            "segments, so its pause is INSIDE the per-trigger stats "
            "above (read max vs p50); the offline fold of the full index "
            "after the window:")
        for n in compacted:
            u, a = sus["pipelines"][n], sat["pipelines"][n]
            out.append(
                f"- `{n}`: sustained window ended at "
                f"{u['segments_after']} segments / {u['index_rows']:,} "
                f"index rows, offline compaction {u['offline_compact_ms']/1000:.1f} s; "
                f"saturated window {a['segments_after']} segments / "
                f"{a['index_rows']:,} rows, offline compaction "
                f"{a['offline_compact_ms']/1000:.1f} s (trigger "
                f"{u['trigger_ms']/1000:g} s).")
    # r13: dedicated >=10-batch window for the composed pipeline (the
    # r12 verdict flagged its n=3 sustained evidence as anecdote) and
    # the per-stage attribution of one admission trigger
    for key, label in (("deduped_binary_long", "at the r12 rate"),
                       ("deduped_binary_long_500", "at a corpus-growth-"
                        "compatible rate")):
        if key not in art:
            continue
        lg = art[key]["pipelines"]["deduped_binary"]
        rate = art[key]["rates"]["deduped_binary"]
        dur = art[key]["duration_s"]
        out += ["",
            f"Composed `deduped_binary` re-evidence (r13, {label}): a "
            f"dedicated {dur} s window at {rate:,}/s offered, "
            f"{lg['trigger_ms']/1000:g} s cadence — **{lg['batches']} "
            f"batches** (r12 judged on 3), {lg['input_rows']:,} rows, "
            f"p50/p95 trigger "
            f"{lg['p50_trigger_ms']/1000:.1f}/{lg['p95_trigger_ms']/1000:.1f} s, "
            f"{lg['lagging_after_warmup']} lagging after warm-up, busy "
            f"rate {lg['rows_per_sec_busy']:,.0f} rows/s."]
    if ("deduped_binary_long" in art and
            "deduped_binary_long_500" in art):
        out += ["",
            "Read the two windows together with the stage table below: "
            "at the r12 rate the corpus grows ~90k rows per trigger and "
            "the linearly-growing corpus-probe stage crosses the 30 s "
            "cadence mid-window (the p95 IS the capacity cliff — a "
            "single busy-rows/s number for this pipeline is a category "
            "error, the r12 artifact's ~2.9k was corpus-size-dependent); "
            "at the lower rate the same pipeline holds a clean "
            "zero-lagging steady state across 12 batches. Admission "
            "cost is O(batch × corpus/2^bits): size the banding for "
            "the TARGET corpus at stream start, and pick the offered "
            "rate from the corpus size the deployment will reach."]
    def probe_slope(cs):
        """ms of admit:corpus-probe per corpus row, least-squares over
        the probe's batches (the r13 verdict's 0.11 ms/row figure)."""
        pts = [(b["corpus_rows_after"],
                b["stages"].get("admit:corpus-probe", 0))
               for b in cs["batches"]]
        n = len(pts)
        sx = sum(p[0] for p in pts); sy = sum(p[1] for p in pts)
        sxx = sum(p[0] * p[0] for p in pts)
        sxy = sum(p[0] * p[1] for p in pts)
        d = n * sxx - sx * sx
        return (n * sxy - sx * sy) / d if d else 0.0

    def stage_table(cs, label):
        rows = ["",
            f"Per-stage attribution of the composed admission trigger, "
            f"**{label}** (`tools.ComposedProbe`: the stream's own "
            f"per-batch body over {cs['batch_rows']:,}-row batches, "
            f"{cs['dup_pct']}% planted dups, "
            f"{cs['bands']}x{cs['bits_per_band']} banding, stage split "
            f"instrumented — {len(cs['batches'])} batches against a "
            f"growing corpus):", "",
            "| batch | wall s | corpus probe | in-batch pairs | commits "
            "(corpus+bands) | index append | compact | driver/other |",
            "|---|---|---|---|---|---|---|"]
        for b in cs["batches"]:
            st = b["stages"]
            def g(*keys):
                return sum(st.get(k, 0) for k in keys) / 1000.0
            rows.append(
                f"| {b['batch']} ({b['corpus_rows_after']:,} corpus rows "
                f"after) | {b['wall_ms']/1000:.1f} "
                f"| {g('admit:corpus-probe'):.1f} s "
                f"| {g('admit:probe+pairs'):.1f} s "
                f"| {g('admit:commit-corpus', 'admit:commit-bands'):.1f} s "
                f"| {g('index:append'):.1f} s "
                f"| {g('index:compact'):.1f} s "
                f"| {max(0.0, b['driver_ms']/1000):.1f} s |")
        rows.append("")
        rows.append(f"Corpus-probe slope, {label}: "
                    f"**{probe_slope(cs)*1000:.3f} µs/corpus-row/trigger** "
                    "(least-squares over the batches above).")
        return rows

    if "composed_stages" in art:
        out += stage_table(art["composed_stages"], "path layout")
    if "composed_stages_path" in art and "composed_stages_bucketed" in art:
        p, b = art["composed_stages_path"], art["composed_stages_bucketed"]
        out += stage_table(p, "path `_sbands` layout (the r13 shape)")
        out += stage_table(b, f"bucketed `_sbands` layout "
                              f"(stateBuckets={b['state_buckets']}, r14)")
        sp, sb = probe_slope(p), probe_slope(b)
        if sb > 0:
            out += ["",
                f"A/B verdict: bucketing the stored probe side cuts the "
                f"corpus-probe slope **{sp/sb:.2f}×** "
                f"({sp*1000:.3f} → {sb*1000:.3f} µs/corpus-row/trigger) "
                "on identical batches — the stored side stops exchanging "
                "per trigger (`BucketedStateSpec` pins the no-Exchange "
                "plan; the residual slope is the columnar scan of the "
                "postings, which is embarrassingly parallel on a "
                "cluster and shuffles nothing)."]
    if "reband" in art:
        rb = art["reband"]
        b0, b1 = rb["banding_before"], rb["banding_after"]
        out += ["",
            f"Reband A/B (`tools.RebandProbe`, r13 VERDICT #2): a corpus "
            f"grown to {rb['corpus_rows']:,} rows under deliberately "
            f"UNDERSIZED {b0[0]}x{b0[1]} banding takes "
            f"{rb['trigger_ms_before']/1000:.1f} s per "
            f"{rb['batch_rows']:,}-row admission trigger; "
            f"`rebandCorpus(targetN)` rebuilds the band index at "
            f"annParams-sized {b1[0]}x{b1[1]} banding (bucketed layout) "
            f"in {rb['reband_ms']/1000:.1f} s, after which the same "
            f"trigger takes {rb['trigger_ms_after']/1000:.1f} s — "
            f"**{rb['speedup']:.1f}× slope reset**, matching the "
            f"candidate model batch×bands×corpus/2^bits. Old-params "
            "admission now refuses loudly (state-meta gate, "
            "`BucketedStateSpec`)."]
    # the caveats name only the pipelines the artifact measured: the
    # kline and doc-dedup streams moved to perfbench after r14
    caveats = ["Caveats the numbers carry:"]
    if "kline_jdbc" in sus["pipelines"]:
        caveats.append(
            "`kline_jdbc`'s ceiling in this table was embedded Derby's MERGE "
            "(the sandbox stand-in for the reference's PostgreSQL), not the "
            "Spark plan — but not because Derby is single-writer. The kline "
            "table had no key and the MERGE's null-safe `(t.K = ? OR (t.K IS "
            "NULL AND ? IS NULL))` match cannot use an index, so every "
            "upserted row scanned the whole table and a batch cost O(rows × "
            "table), growing for as long as the stream ran. `KlineDdl` now "
            "carries `UNIQUE (COIN, INTERVAL, TIMESTAMP)` and "
            "`Routing.upsertJdbc` binds every row without a NULL key to an "
            "exact-key MERGE that probes that index (NULL-keyed rows keep the"
            " null-safe scan); on the `perfbench` `kline_jdbc` workload burst"
            " throughput rose ×1.86 in the median of 10 alternating pairs, "
            "546 → 1,015 rows/s (CHANGES.md). The upsert path still clamps "
            "Derby to one connection because its lock manager escalated to "
            "table locks under concurrent MERGE (measured before the index "
            "existed: the same batch 1 s single-writer vs 25 s behind "
            "multi-second lock waits at 8 writers); the clamp is kept, not "
            "re-measured with the index.")
    if "dedup_incremental" in sus["pipelines"]:
        caveats.append(
            "`dedup_incremental`'s per-trigger floor is ~5-6 s of fixed work "
            "(bloom-chain read + two partitioned commits), which is why it is"
            " judged at a 10 s cadence — its production shape.")
    caveats.append(
        "The saturated `rows/s busy` numbers are "
        f"single-box local[{sus['cpus']}]; on a cluster the kline and routed "
        "pipelines scale with executors (stateless per batch after the "
        "keyed shuffle), the dedup pipeline with the O(batch) admission "
        "join's width.")
    out += ["", " ".join(caveats)]
    return "\n".join(out)


def main():
    rnd = int(sys.argv[1])
    text = block(rnd)
    if "--write" in sys.argv:
        with open(SCALE_MD) as f:
            doc = f.read()
        begin, end = "<!-- mkstreaming:begin -->", "<!-- mkstreaming:end -->"
        if begin not in doc:
            raise SystemExit("markers missing from SCALE.md")
        pre = doc.split(begin)[0]
        post = doc.split(end)[1]
        with open(SCALE_MD, "w") as f:
            f.write(pre + begin + "\n" + text + "\n" + end + post)
        print("SCALE.md updated")
    else:
        print(text)


if __name__ == "__main__":
    main()
