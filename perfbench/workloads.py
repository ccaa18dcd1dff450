"""The benchmark's workloads: what one operation does and how its
output is checked against the facts the generator planted.

Each workload exposes ``generate(seed, root)`` (inputs and facts),
``prepare()`` (state the operations read, built with the package's own
code), ``op(i)`` (one timed operation), ``check(i, result)`` (untimed;
raises ``CheckFailed`` on a mismatch) and ``op_bytes(i, since_ns)``
(bytes the operation left on disk per byte of its input).
"""

from __future__ import annotations

import math
import os
import random
import statistics

from gen import PENALTY_CONFIG, corpus_shard, etl_drop, ingest_stream


#: ``StreamingQueryProgress.durationMs`` phases the traced ingest reports
STREAM_PROGRESS = ("addBatch", "queryPlanning", "walCommit", "latestOffset", "triggerExecution")


class CheckFailed(AssertionError):
    pass


def expect(cond: bool, what: str) -> None:
    if not cond:
        raise CheckFailed(what)


def close(a: float, b: float) -> bool:
    return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)


def bytes_since(roots: list[str], since_ns: int) -> int:
    """Bytes in files under ``roots`` written at or after ``since_ns``."""
    total = 0
    for root in roots:
        for dirpath, _, files in os.walk(root):
            for f in files:
                st = os.stat(os.path.join(dirpath, f))
                if st.st_mtime_ns >= since_ns:
                    total += st.st_size
    return total


class Workload:
    #: untimed operations run after set-up (see NOTES.md for the curve)
    warmup_ops = 1
    #: operations in one unit of work; ``wall_s`` is the time per unit
    unit_ops = 1
    #: seconds one operation takes on a 4-core host, used to turn
    #: ``--seconds`` into a fixed operation count
    nominal_op_s = 1.0

    def __init__(self, spark, tracer, root: str):
        self.spark = spark
        self.tr = tracer
        self.root = root
        #: per-layer metrics measured outside spans (traced set-up)
        self.extra_layers: dict[str, float] = {}

    def ops_for(self, seconds: float) -> int:
        units = max(1, round(seconds / (self.nominal_op_s * self.unit_ops)))
        return units * self.unit_ops


# --------------------------------------------------------------------------
# etl


def run_etl(tr, spark, specs, drop: str, out_csv: str):
    """The paper's batch path on one drop: build, staffing metrics, profile."""
    from nursinghome_data_pipeline_spark.pipelines.penalties import run_build
    from nursinghome_data_pipeline_spark.pipelines.profiling import profile_directory
    from nursinghome_data_pipeline_spark.pipelines.staffing_metrics import (
        run_staffing_metrics,
    )

    staged = tr.call("pipelines.run_build", run_build, spark, specs=specs, csv_dir=drop)
    metrics, report = tr.call(
        "pipelines.run_staffing_metrics", run_staffing_metrics, spark, drop, out_dir=out_csv
    )
    profiled = tr.call("pipelines.profile_directory", profile_directory, spark, drop)
    return staged, metrics, report, profiled


def check_etl(spark, facts: dict, result) -> None:
    from pyspark.sql import functions as F

    staged, metrics, _, profiled = result
    try:
        expect(staged == {"penalties": facts["staged_rows"]}, f"staged rows {staged}")
        expect(profiled == facts["profiled"], f"profiled rows {profiled}")
        audit = (
            spark.table("dq_audit")
            .where(F.col("table_name") == "staging_penalties")
            .orderBy(F.col("created_at").desc())
            .first()
        )
        expect(
            audit.status == "warn" and audit.metric_value == facts["dup_keys"],
            f"duplicate-key audit {audit.status} {audit.metric_value}",
        )
        got = {(r.STATE, r.PROVNUM, r.CY_Qtr): r for r in metrics.collect()}
        want = facts["staffing"]
        expect(got.keys() == want.keys(), "staffing metric groups differ")
        for k, w in want.items():
            for col, v in w.items():
                expect(close(got[k][col], v), f"staffing {k} {col}")
    finally:
        metrics.unpersist()


# --------------------------------------------------------------------------
# dashboard

#: the catalog tables a catalog page opens (row counts known to the
#: generator)
DASH_TABLES = (
    "staging_penalties",
    "fact_penalty",
    "v_penalties_by_state",
    "metrics_summary",
    "pbj_daily_nurse_staffing",
    "nh_penalties_2024a",
)
#: one deck: every page of the dashboard once, each issuing the reads
#: its caller issues, in the caller's order (SURVEY.md §3.3, cli.py)
DASH_PAGES = {
    # ``cli dashboard --kind metrics``: one payload, then the render
    "metrics_page": ("metrics_payload",),
    # ``cli dashboard --kind overview``: every catalog table at once
    "overview_page": ("overview_payload",),
    # metrics_dashboard.py main(): filter domains, the filter, then the
    # group-mean bar, the quarter x facility pivot, the second mean
    "metrics_widgets": ("distinct_states", "distinct_provnums", "filter_metrics",
                        "mean_ratio", "pivot", "mean_contract"),
    # streamlit_app.py main(): table list, preview, numeric means
    "catalog_browser": ("list_tables", "table_preview", "numeric_means"),
    # ``cli catalog <table>``: preview, numeric means
    "cli_catalog": ("preview", "numeric_means"),
}
DECK_READS = sum(len(reads) for reads in DASH_PAGES.values())


class Dashboard(Workload):
    warmup_ops = 4 * DECK_READS
    unit_ops = DECK_READS
    nominal_op_s = 0.31

    def generate(self, seed: int, root: str) -> dict:
        facts = etl_drop(random.Random(f"dashboard-{seed}"), os.path.join(root, "drop"),
                         facilities=60, days=30)
        facts["dir"] = os.path.join(root, "drop")
        facts["seed"] = seed
        return facts

    def prepare(self, facts: dict) -> None:
        """Build the curated catalog with the etl code, then fix the
        seeded read sequence: decks of every page, page order and
        widget selections drawn from the seed."""
        from nursinghome_data_pipeline_spark.catalog import list_tables, stage_overwrite
        from nursinghome_data_pipeline_spark.config import specs_from_dict

        result = run_etl(
            self.tr, self.spark, specs_from_dict(PENALTY_CONFIG), facts["dir"],
            os.path.join(self.root, "out", "metrics_summary"),
        )
        stage_overwrite(result[1], "metrics_summary")
        check_etl(self.spark, facts, result)
        self.facts = facts
        staffing = facts["staffing"]
        self.states = sorted({k[0] for k in staffing})
        self.rows = {
            "staging_penalties": facts["staged_rows"],
            "fact_penalty": facts["staged_rows"],
            "v_penalties_by_state": facts["penalty_states"],
            "metrics_summary": len(staffing),
            "pbj_daily_nurse_staffing": facts["profiled"]["pbj_daily_nurse_staffing"],
            "nh_penalties_2024a": facts["profiled"]["nh_penalties_2024a"],
        }
        self.overview_tables = sorted(set(list_tables(self.spark)) - {"dq_completeness"})
        rng = random.Random(f"dashboard-mix-{facts['seed']}")
        self.mix: list[tuple[str, str, list[str], str]] = []
        for d in range(64):
            pages = list(DASH_PAGES.values())
            rng.shuffle(pages)
            state = rng.choice(self.states)
            provs = sorted({k[1] for k in staffing if k[0] == state})
            picked = sorted(rng.sample(provs, min(3, len(provs))))
            # the catalog pages open tables in turn by deck, not by
            # seed: table sizes differ, and a seed-chosen share would
            # move the read times between seeds
            table = DASH_TABLES[d % len(DASH_TABLES)]
            for reads in pages:
                for kind in reads:
                    self.mix.append((kind, state, picked, table))
        warehouse = self.spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
        self.catalog_ratio = bytes_since([warehouse], 0) / facts["input_bytes"]

    def op(self, i: int):
        from nursinghome_data_pipeline_spark import catalog, dashboard, query_layer as q
        from pyspark.sql import functions as F

        kind, state, provs, table = self.mix[i % len(self.mix)]
        tr, spark = self.tr, self.spark
        metrics = spark.table("metrics_summary")
        if kind == "distinct_states":
            return tr.call("query_layer.distinct_values", q.distinct_values, metrics, "STATE")
        if kind == "distinct_provnums":
            return tr.call("query_layer.distinct_values", q.distinct_values,
                           metrics.where(F.col("STATE") == state), "PROVNUM")
        if kind == "filter_metrics":
            return tr.lazy("query_layer.filter_metrics", q.filter_metrics, metrics,
                           state=state, provnums=provs, action=lambda d: d.collect())
        if kind in ("mean_ratio", "mean_contract"):
            col = "nurse_to_patient_ratio" if kind == "mean_ratio" else "contract_vs_employed_ratio"
            selected = q.filter_metrics(metrics, state=state, provnums=provs)
            return tr.lazy("query_layer.group_mean", q.group_mean, selected, "PROVNUM", col,
                           action=lambda d: d.collect())
        if kind == "pivot":
            selected = q.filter_metrics(metrics, state=state, provnums=provs)
            return tr.lazy("query_layer.quarter_facility_pivot", q.quarter_facility_pivot,
                           selected, column_values=provs, action=lambda d: d.collect())
        if kind == "list_tables":
            return tr.call("catalog.list_tables", catalog.list_tables, spark)
        if kind == "table_preview":
            return tr.lazy("catalog.table_preview", catalog.table_preview, spark, table, 5,
                           action=lambda d: d.collect())
        if kind == "preview":
            return tr.lazy("query_layer.preview", q.preview, spark.table(table), 5,
                           action=lambda d: d.collect())
        if kind == "numeric_means":
            return tr.lazy("query_layer.numeric_means", q.numeric_means, spark.table(table),
                           action=lambda d: d.collect())
        if kind == "metrics_payload":
            payload = tr.call("dashboard.metrics_payload", dashboard.metrics_payload, metrics)
            return payload, tr.call("dashboard.render_html", dashboard.render_metrics_html, payload)
        payload = tr.call("dashboard.overview_payload", dashboard.overview_payload, spark)
        return payload, tr.call("dashboard.render_html", dashboard.render_overview_html, payload)

    def check(self, i: int, result) -> None:
        kind, state, provs, table = self.mix[i % len(self.mix)]
        staffing = self.facts["staffing"]
        mine = {k[1:]: v for k, v in staffing.items() if k[0] == state and k[1] in provs}
        if kind == "distinct_states":
            expect(result == self.states, "distinct states")
        elif kind == "distinct_provnums":
            want = sorted({k[1] for k in staffing if k[0] == state})
            expect(result == want, "distinct facilities")
        elif kind == "filter_metrics":
            expect({(r.PROVNUM, r.CY_Qtr) for r in result} == mine.keys(), "filtered rows")
        elif kind in ("mean_ratio", "mean_contract"):
            col = "nurse_to_patient_ratio" if kind == "mean_ratio" else "contract_vs_employed_ratio"
            groups: dict[str, list[float]] = {}
            for (prov, _), v in mine.items():
                groups.setdefault(prov, []).append(v[col])
            expect([r[0] for r in result] == sorted(groups), "group keys")
            for r in result:
                expect(close(r[1], sum(groups[r[0]]) / len(groups[r[0]])), f"mean {r[0]}")
        elif kind == "pivot":
            expect([r.CY_Qtr for r in result] == sorted({k[1] for k in mine}), "pivot quarters")
            for r in result:
                for prov in provs:
                    w = mine.get((prov, r.CY_Qtr))
                    expect((r[prov] is None) == (w is None), f"pivot cell {prov}")
                    expect(w is None or close(r[prov], w["total_nurse_hours"]), f"pivot {prov}")
        elif kind in ("preview", "table_preview"):
            expect(len(result) == min(5, self.rows[table]), f"preview {table}")
        elif kind == "numeric_means":
            expect(len(result) == 1, f"numeric means {table}")
            if table == "metrics_summary":
                vals = [v["total_nurse_hours"] for v in staffing.values()]
                expect(close(result[0].total_nurse_hours, sum(vals) / len(vals)),
                       "numeric means")
        elif kind == "list_tables":
            expect(set(DASH_TABLES) <= set(result), "catalog tables")
        elif kind == "metrics_payload":
            payload, html = result
            expect(sorted(payload) == self.states and "<select" in html, "metrics payload")
            for s in self.states:
                facs = sorted({k[1] for k in staffing if k[0] == s})
                expect(payload[s]["facilities"] == facs, f"payload facilities {s}")
        else:
            payload, html = result
            expect(sorted(payload) == self.overview_tables, "overview tables")
            for t in DASH_TABLES:
                expect(len(payload[t]["preview"]) == min(5, self.rows[t]), f"overview {t}")
                expect(t in html, f"overview html {t}")

    def op_bytes(self, i: int, since_ns: int) -> float:
        # the reads write nothing: report the at-rest catalog they read
        return self.catalog_ratio


# --------------------------------------------------------------------------
# corpus


class Corpus(Workload):
    warmup_ops = 2
    nominal_op_s = 6.5
    shards = 2
    #: a unit is one pass over every shard, the workload's whole input
    unit_ops = shards
    min_quality = 0.6
    jaccard_threshold = 0.5
    #: the ingest loop traced in set-up: two whole compaction cycles
    compact_every = 4
    stream_batches = 8

    def generate(self, seed: int, root: str) -> dict:
        shards = []
        for s in range(self.shards):
            path = os.path.join(root, f"shard{s}")
            facts = corpus_shard(random.Random(f"corpus-{seed}-{s}"), path,
                                 docs=400, vectors=1000, dim=16, queries=2)
            facts["dir"] = path
            shards.append(facts)
        stream = ingest_stream(random.Random(f"stream-{seed}"), os.path.join(root, "stream"),
                               corpus_docs=300, batches=self.stream_batches, fresh=20)
        return {"shards": shards, "stream": stream}

    def prepare(self, inputs: dict) -> None:
        self.inputs = inputs["shards"]
        self.out_dir = os.path.join(self.root, "out", "corpus")
        if self.tr.enabled:
            self.extra_layers = self.trace_ingest(inputs["stream"])

    def trace_ingest(self, facts: dict) -> dict[str, float]:
        """Build a minhash index and run the streaming dedup ingest over
        whole compaction cycles of seeded micro-batches, one batch file
        at a time; check the accepted ids and return the ``streaming.*``
        and ``operators.dedup_index.*`` layer metrics. Runs in traced
        set-up only: no timed operation calls these layers."""
        from nursinghome_data_pipeline_spark.operators.dedup_index import write_dedup_index
        from nursinghome_data_pipeline_spark.streaming.commitlog import MARKER_DIR
        from nursinghome_data_pipeline_spark.streaming.ingest_dedup import (
            streaming_dedup_ingest,
        )

        tr, spark = self.tr, self.spark
        root = os.path.join(self.root, "stream")
        index, target, src = (os.path.join(root, d) for d in ("index", "target", "src"))
        os.makedirs(src)
        tr.call("operators.dedup_index.write_dedup_index", write_dedup_index,
                spark.read.parquet(facts["corpus"]), index)
        q = streaming_dedup_ingest(
            spark.readStream.schema("doc_id long, text string").json(src), index, target,
            checkpoint_dir=os.path.join(root, "checkpoint"), compact_every=self.compact_every,
        )
        # Spark runs every micro-batch's jobs under the query's runId
        # as job group; the delta per batch is the batch's job count
        tracker = spark.sparkContext.statusTracker()
        group = str(q.runId)
        batch_s, jobs, index_files, index_bytes = [], [], [], []
        try:
            for path in facts["batches"]:
                before = len(tracker.getJobIdsForGroup(group))
                with tr.span("streaming.batch"):
                    os.rename(path, os.path.join(src, os.path.basename(path)))
                    q.processAllAvailable()
                batch_s.append(tr.spans[-1].end - tr.spans[-1].start)
                jobs.append(len(tracker.getJobIdsForGroup(group)) - before)
                index_files.append(sum(len(f) for _, _, f in os.walk(index)))
                index_bytes.append(bytes_since([index], 0))
            progress = [p for p in q.recentProgress if p.numInputRows > 0]
        finally:
            q.stop()
        expect(all(jobs), f"micro-batch jobs outside the runId group: {jobs}")
        data = os.path.join(target, "data")
        accepted = {r.doc_id for r in spark.read.option("basePath", data).parquet(data)
                    .select("doc_id").collect()}
        expect(accepted == facts["accepted"],
               f"ingest accepted {len(accepted)} ids, planted {len(facts['accepted'])}")
        expect(len(progress) == len(batch_s), f"{len(progress)} progress reports")
        compaction = [s for b, s in enumerate(batch_s, 1) if b % self.compact_every == 0]
        plain = [s for b, s in enumerate(batch_s, 1) if b % self.compact_every]
        out = {
            "streaming.batch.jobs": statistics.fmean(jobs),
            "streaming.compaction_batch_s": statistics.median(compaction),
            "streaming.plain_batch_s": statistics.median(plain),
            "operators.dedup_index.files": max(index_files),
            "operators.dedup_index.bytes": max(index_bytes),
            "streaming.commitlog.markers": sum(
                len(f) for _, _, f in os.walk(os.path.join(target, MARKER_DIR))),
        }
        for key in STREAM_PROGRESS:
            out[f"streaming.progress.{key}_ms"] = statistics.fmean(
                p.durationMs.get(key, 0) for p in progress)
        return out

    def op(self, i: int):
        """The ``cli corpus-build`` stage order on one shard, plus a
        kNN top-k for the shard's query vectors."""
        from nursinghome_data_pipeline_spark.functions.text import (
            english_stopword_filter,
            quality_score_col,
            token_count_col,
        )
        from nursinghome_data_pipeline_spark.operators.clustering import lloyd_train
        from nursinghome_data_pipeline_spark.operators.corpus import decontaminate
        from nursinghome_data_pipeline_spark.operators.dedup import (
            connected_components,
            exact_dedup_fingerprints,
            jaccard_pair_join,
        )
        from nursinghome_data_pipeline_spark.operators.similarity import (
            fixed_ivf_seeds,
            knn_ivf_fixed,
        )
        from nursinghome_data_pipeline_spark.sources.tpch import load_tables
        from pyspark.sql import functions as F

        tr, spark = self.tr, self.spark
        shard = self.inputs[i % len(self.inputs)]
        with tr.span("sources.load_tables", "construct"):
            t = load_tables(spark, shard["dir"], ["documents", "embeddings", "evalset"])
        counts = {}

        def counted(d):
            return d, d.count()

        filtered, counts["quality_filtered"] = tr.lazy(
            "functions.text.quality_filter",
            lambda d: d.where(english_stopword_filter("text")
                              & (quality_score_col("text") >= self.min_quality)),
            t["documents"],
            action=counted,
        )
        exact, counts["exact_deduped"] = tr.lazy(
            "operators.dedup.exact_dedup_fingerprints", exact_dedup_fingerprints, filtered,
            action=lambda canon: counted(
                filtered.join(canon.select("doc_id"), "doc_id", "left_semi")
                .localCheckpoint(eager=False)
            ),
        )
        # the pairs stay lazy, as in ``cli corpus-build``: they run
        # inside connected_components, so their jobs count there
        with tr.span("operators.dedup.jaccard_pair_join", "construct"):
            pairs = jaccard_pair_join(exact, threshold=self.jaccard_threshold)

        def near_dedup():
            comps = connected_components(exact, pairs)
            near = exact.join(
                comps.where(F.col("doc_id") == F.col("component_id")).select("doc_id"),
                "doc_id", "left_semi",
            )
            counts["near_deduped"] = near.count()
            return near

        near = tr.call("operators.dedup.connected_components", near_dedup)
        clean, counts["decontaminated"] = tr.lazy(
            "operators.corpus.decontaminate", decontaminate, near, t["evalset"],
            shingle_k=5, action=counted,
        )

        emb = t["embeddings"]
        seeds = tr.call("operators.similarity.fixed_ivf_seeds", fixed_ivf_seeds, emb,
                        n_seeds=8, id_col="vec_id")
        init = spark.createDataFrame(seeds, "cid long, clist array<double>")
        centroids = tr.call("operators.clustering.lloyd_train", lloyd_train, emb, init,
                            iterations=3)
        top = [
            tr.lazy("operators.similarity.knn_ivf_fixed", knn_ivf_fixed, emb, qvec,
                    centroids._trained_rows, k=5, n_probe=2,
                    action=lambda d: [r.vec_id for r in d.collect()])
            for _, qvec in shard["queries"]
        ]

        bucket = (F.col("doc_id") * F.lit(2654435761)) % 100
        split = F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
        with tr.span("corpus.write_parquet"):
            clean.select(
                "doc_id", "text", "lang", "source",
                token_count_col("text").alias("n_tokens"), split.alias("split"),
            ).write.mode("overwrite").partitionBy("split").parquet(self.out_dir)
        return counts, top

    def check(self, i: int, result) -> None:
        counts, top = result
        shard = self.inputs[i % len(self.inputs)]
        expect(counts["near_deduped"] - counts["decontaminated"] == shard["contaminated"],
               f"contaminated {counts}")
        written = {r.doc_id for r in self.spark.read.parquet(self.out_dir).select("doc_id").collect()}
        expect(written == shard["survivors"],
               f"survivors: {len(written)} written, {len(shard['survivors'])} planted")
        for (target, _), ids in zip(shard["queries"], top):
            expect(ids[:1] == [target], f"knn top-1 for {target}: {ids}")

    def op_bytes(self, i: int, since_ns: int) -> float:
        return bytes_since([self.out_dir], since_ns) / self.inputs[i % len(self.inputs)]["input_bytes"]


WORKLOADS = {"dashboard": Dashboard, "corpus": Corpus}
