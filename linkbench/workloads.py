"""The four workloads: an untraced iteration through the public entry points
a user calls, its output check, and a traced iteration that calls the layers
one at a time and materializes each layer's output inside its span."""

from __future__ import annotations

import glob
import inspect
import json
import os
import shutil
import time

import numpy as np
from pyspark.sql import functions as F

import checks
from engine import WORK

KERNEL_PAIRS = 20_000
NAME_COLS = ("first_std", "middle_std", "last_std")
RANGES = 2
NEAR_DUP = {"num_hashes": 32, "bands": 8, "shingle_len": 5, "text_col": "content", "id_col": "doc_id"}
RERANK_THRESHOLD = 0.5


def fresh_dir(*parts: str) -> str:
    path = os.path.join(WORK, "out", *parts)
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    return path


def parquet_bytes(path: str) -> int:
    return sum(
        os.path.getsize(p)
        for p in glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
    )


# span name -> per-layer time metric (the span's self time)
SPAN_TIMES = {
    "sources.read": "sources.read_s",
    "normalize": "normalize.busy_s",
    "encode": "encode.busy_s",
    "blocking": "blocking.busy_s",
    "score": "score.busy_s",
    "kernels": "kernels.busy_s",
    "clustering": "clustering.busy_s",
    "checkpoint": "checkpoint.busy_s",
    "resume": "checkpoint.resume_s",
    "dedup.minhash": "dedup.minhash_s",
    "dedup.lsh": "dedup.lsh_s",
    "dedup.rerank": "dedup.rerank_s",
}


def _layer(span_name: str) -> str:
    return span_name.split(".")[0]


class Workload:
    name = ""
    why = ""

    def __init__(self, spark, data, seed: int):
        self.spark = spark
        self.sc = spark.sparkContext
        self.data = data
        self.seed = seed
        self.records = data.manifest["rows"]
        self.pairs = 0  # candidate pairs, set by profile()

    def read(self, limit: int | None = None):
        """The generated input; a warm-up reads only its first rows."""
        from name_matching_spark.sources.readers import read_table

        df = read_table(self.spark, self.data.input)
        return df if limit is None else df.limit(limit)

    def span_metrics(self, tr) -> dict[str, float]:
        """Per-layer times and job counts from a finished traced iteration.

        A layer this workload does not run gets an empty span of its own,
        so its time is the tracer's overhead and its job count is 0.
        """
        seen = {s["name"] for s in tr.spans}
        for name in SPAN_TIMES:
            if name not in seen:
                with tr.span(name):
                    pass
        tr.finish()
        by_name = {s["name"]: s for s in tr.spans}
        out = {metric: by_name[name]["self_s"] for name, metric in SPAN_TIMES.items()}
        # seconds per range; a workload without ranges counts its empty span once
        out["checkpoint.s_per_range"] = out["checkpoint.busy_s"]
        root = by_name["iteration"]
        inside = [s for s in tr.spans if s is root or s["parent"] is not None]
        out.update({
            "spark.jobs": sum(s["jobs"] for s in inside),
            "spark.tasks": sum(s["tasks"] for s in inside),
            # any failed task of the traced run, the resume included
            "spark.failed_tasks": sum(s["failed_tasks"] for s in tr.spans),
        })
        for s in inside:
            if s is root:
                continue
            layer = _layer(s["name"])
            out[f"{layer}.jobs"] = out.get(f"{layer}.jobs", 0) + s["jobs"]
        return out


# -- linkage: dedup_table -> write -> assign_clusters -----------------------------


class Linkage(Workload):
    expect_dict_path: bool

    def config(self):
        raise NotImplementedError

    def __init__(self, spark, data, seed):
        super().__init__(spark, data, seed)
        self.schema, self.blocking, self.matcher = self.config()
        self.by_id = data.frame.set_index("record_id").to_dict("index")

    def profile(self) -> dict:
        """Distinct scoring payloads and blocked candidate pairs, counted
        by the program under test in every run."""
        from name_matching_spark.operators.blocking import block_census, blocking_key_column
        from name_matching_spark.plans.linkage import dedup_table, prepare_linkage_frame

        work = prepare_linkage_frame(self.read(), self.schema, self.matcher).localCheckpoint()
        fields = list(NAME_COLS) + [f"geo{i}" for i in range(len(self.matcher.geo_fields))]
        keyed = work.withColumn("block_key", blocking_key_column(self.blocking.passes[0]))
        sizes = block_census(keyed).select(
            F.sum(F.col("count") * (F.col("count") - 1) / 2)
        ).first()[0]
        self.pairs = int(sizes)
        return {
            "distinct_payloads": work.select(*fields).distinct().count(),
            "dict_max_classes": inspect.signature(dedup_table).parameters["dict_max_classes"].default,
            "candidate_pairs": self.pairs,
        }

    def run(self, limit: int | None = None):
        from name_matching_spark.operators.clustering import assign_clusters
        from name_matching_spark.plans.linkage import dedup_table
        from name_matching_spark.sources.sinks import write_match_results

        out = fresh_dir(self.name, "warm" if limit else "run")
        t0 = time.perf_counter()
        df = self.read(limit)
        # a warm-up slice has few payloads, so it is pinned to the scoring
        # path the full input takes by itself
        dict_encode = None if limit is None else self.expect_dict_path
        results = dedup_table(df, self.schema, self.blocking, self.matcher, dict_encode=dict_encode)
        write_match_results(results, f"{out}/matches", mode="overwrite")
        matches = self.spark.read.parquet(f"{out}/matches").filter(
            F.col("classification") == "match"
        )
        clusters = assign_clusters(df.select("record_id"), matches)
        clusters.write.mode("overwrite").parquet(f"{out}/clusters")
        wall = time.perf_counter() - t0
        plan = results._jdf.queryExecution().analyzed().toString()
        return {"dir": out, "dict_path": "component_scores_dict" in plan}, {"wall_s": wall}

    def check(self, res, ref):
        m = self.spark.read.parquet(f"{res['dir']}/matches")
        c = self.spark.read.parquet(f"{res['dir']}/clusters")
        fp = (
            checks.fingerprint(m, ["id1", "id2", "classification"]),
            checks.fingerprint(c, ["record_id", "cluster_id"]),
        )
        rows = checks.seeded_sample(m, self.seed, ["id1", "id2", "score"])
        problems = []
        if ref is not None and fp != ref:
            problems.append("fingerprint differs from the first iteration")
        if checks.score_mismatches(rows, self.by_id, self.matcher):
            problems.append("sampled scores differ from core.match_records")
        if checks.cluster_label_errors(c):
            problems.append("cluster id is not the component minimum")
        if fp[1][0] != self.records:
            problems.append("cluster table does not cover every record")
        if res["dict_path"] != self.expect_dict_path:
            problems.append("scoring took the other payload path")
        if res.get("pairs", self.pairs) != self.pairs:
            problems.append("traced candidate pairs differ from the block census")
        return problems, fp

    def quality(self, res) -> tuple[list[str], float]:
        """Union-find reference for the clusters, and pairwise F1."""
        m = self.spark.read.parquet(f"{res['dir']}/matches")
        edges = m.filter(F.col("classification") == "match").select("id1", "id2").collect()
        got = dict(self.spark.read.parquet(f"{res['dir']}/clusters").toPandas().values.tolist())
        want = checks.union_find(self.by_id.keys(), edges)
        problems = [] if got == want else ["clusters differ from a union-find over the matches"]
        return problems, checks.pairwise_f1(got, self.data.truth)

    def trace(self, tr):
        from name_matching_spark.functions import kernels as K
        from name_matching_spark.operators.blocking import block_census, blocking_key_column
        from name_matching_spark.operators.clustering import CC_DRIVER_EDGE_CAP, assign_clusters
        from name_matching_spark.operators.score_pairs import score_pairs, scoring_struct_cols
        from name_matching_spark.plans.linkage import (
            _build_class_encoding,
            _multi_pass_pairs,
            dedup_table,
            prepare_linkage_frame,
        )
        from name_matching_spark.sources.sinks import write_match_results

        out = fresh_dir(self.name, "trace")
        max_classes = inspect.signature(dedup_table).parameters["dict_max_classes"].default
        with tr.span("iteration"):
            with tr.span("sources.read"):
                df = self.read().localCheckpoint()
            with tr.span("normalize"):
                work = prepare_linkage_frame(df, self.schema, self.matcher).localCheckpoint()
            with tr.span("encode"):
                # the adaptive payload encoding dedup_table builds
                payload = scoring_struct_cols(self.matcher)
                class_dict = None
                enc = _build_class_encoding([work], self.matcher, max_classes, required=False)
                if enc is not None:
                    (work,), class_dict = enc
                    work = work.localCheckpoint()
                    payload = ["class_id"] + (
                        ["birthdate_std"] if self.matcher.use_birthdate else []
                    )
            with tr.span("blocking"):
                # the pair plan dedup_table builds, partitioning included
                pairs = _multi_pass_pairs(work, payload, self.blocking).localCheckpoint()
            with tr.span("score"):
                results = (
                    score_pairs(pairs, self.matcher, class_dict=class_dict)
                    .filter(F.col("classification") != "non_match")
                    .localCheckpoint()
                )
            with tr.span("clustering"):
                matches = results.filter(F.col("classification") == "match")
                clusters = assign_clusters(df.select("record_id"), matches).localCheckpoint()
            with tr.span("sinks"):
                write_match_results(results, f"{out}/matches", mode="overwrite")
                clusters.write.mode("overwrite").parquet(f"{out}/clusters")

        # counts outside every span
        self.sc.setJobGroup(f"{tr.run_id}/counts", "counts")
        n = int(df.count())
        keyed = work.withColumn("block_key", blocking_key_column(self.blocking.passes[0]))
        sizes = [r["count"] for r in block_census(keyed).collect()]
        n_pairs = pairs.count()
        if class_dict is not None:
            udf_in = [F.col("s1.class_id").alias("c1"), F.col("s2.class_id").alias("c2")]
        else:
            fields = list(NAME_COLS) + [f"geo{i}" for i in range(len(self.matcher.geo_fields))]
            udf_in = [F.col(f"s{side}.{f}").alias(f"{f}{side}") for side in (1, 2) for f in fields]
        distinct = pairs.select(*udf_in).distinct()
        n_distinct = distinct.count()
        kept = results.count()
        edges = matches.count()
        comp = (
            clusters.groupBy("cluster_id").count().filter(F.col("count") > 1)
            .agg(F.count("*").alias("n"), F.max("count").alias("mx")).first()
        )
        written = self.spark.read.parquet(f"{out}/matches").count() + self.spark.read.parquet(
            f"{out}/clusters"
        ).count()
        a, b = self._kernel_inputs(distinct, class_dict)

        with tr.span("kernels"):
            for col in NAME_COLS:
                K.batch_jaro_winkler(a[col], b[col])
                K.batch_dl_similarity(a[col], b[col])
            # Monge-Elkan tokens: the whitespace tokens of the full name
            tok_a = [" ".join(filter(None, row)).split() for row in zip(*(a[c] for c in NAME_COLS))]
            tok_b = [" ".join(filter(None, row)).split() for row in zip(*(b[c] for c in NAME_COLS))]
            K.batch_monge_elkan(tok_a, tok_b, K.batch_dl_similarity)
            K.batch_monge_elkan(tok_a, tok_b, K.batch_jaro_winkler)

        m = self.span_metrics(tr)
        nbytes = parquet_bytes(out)
        m.update({
            "sinks.rows_written": written,
            "sinks.bytes_written": nbytes,
            "sinks.bytes_per_row": nbytes / written,
            "normalize.rows": n,
            "blocking.blocks": len(sizes),
            "blocking.max_block_rows": max(sizes),
            "blocking.hot_blocks": sum(s > self.blocking.hot_block_cap for s in sizes),
            "blocking.candidate_pairs": n_pairs,
            "blocking.reduction_ratio": n_pairs / (n * (n - 1) / 2),
            "score.pairs": n_pairs,
            "score.distinct_payload_pairs_frac": n_distinct / n_pairs,
            "score.kept_frac": kept / n_pairs,
            "score.dict_path": int(class_dict is not None),
            "kernels.pairs_per_s": len(a["first_std"]) / m["kernels.busy_s"],
            "clustering.edges": edges,
            "clustering.components": comp["n"],
            "clustering.max_component": comp["mx"] or 0,
            "clustering.driver_path": int(edges <= CC_DRIVER_EDGE_CAP),
        })
        return m, {"dir": out, "dict_path": class_dict is not None, "pairs": n_pairs}

    def _kernel_inputs(self, distinct, class_dict):
        """Up to KERNEL_PAIRS distinct scoring payload pairs, seeded, as
        string arrays per side."""
        cols = NAME_COLS
        names = distinct.columns
        rows = (
            distinct.orderBy(F.xxhash64(*names, F.lit(self.seed)), *names)
            .limit(KERNEL_PAIRS)
            .collect()
        )
        if class_dict is not None:
            i1 = np.array([r[0] for r in rows], dtype=np.int64)
            i2 = np.array([r[1] for r in rows], dtype=np.int64)
            return (
                {c: np.asarray(class_dict[c], dtype=object)[i1] for c in cols},
                {c: np.asarray(class_dict[c], dtype=object)[i2] for c in cols},
            )
        half = len(names) // 2
        return (
            {c: np.array([r[i] for r in rows], dtype=object) for i, c in enumerate(cols)},
            {c: np.array([r[half + i] for r in rows], dtype=object) for i, c in enumerate(cols)},
        )


class PersonSkewed(Linkage):
    name = "person_skewed"
    why = (
        "reference-shaped person records with hot surnames: salted hot blocks, "
        "dictionary-encoded scoring, clustering"
    )
    expect_dict_path = True
    HOT_BLOCK_CAP = 64

    def config(self):
        from name_matching_spark.operators.blocking import BlockingConfig
        from name_matching_spark.operators.normalize import LinkageSchema
        from name_matching_spark.operators.score_pairs import MatcherConfig

        return (
            LinkageSchema(id_col="record_id"),
            BlockingConfig(hot_block_cap=self.HOT_BLOCK_CAP),
            MatcherConfig(),
        )


class RepoDiverse(Linkage):
    name = "repo_diverse"
    why = (
        "repo-derived names with more distinct payloads than dict_max_classes: "
        "direct struct scoring, Arrow transfer and kernels, small blocks"
    )
    expect_dict_path = False

    def config(self):
        from name_matching_spark.operators.blocking import BlockingConfig
        from name_matching_spark.operators.normalize import LinkageSchema
        from name_matching_spark.operators.score_pairs import MatcherConfig

        return (
            LinkageSchema(id_col="record_id", birthdate=None, geo_fields=["province_name"]),
            BlockingConfig(),
            MatcherConfig(
                use_birthdate=False,
                geo_fields=["province_name"],
                additional_weights={"geography": 0.3},
            ),
        )


# -- checkpoint_resume: CheckpointedLinkage.run, crash, resume ---------------------


class CheckpointResume(PersonSkewed):
    name = "checkpoint_resume"
    why = (
        "resumable linkage over hash ranges: many small jobs, parquet writes "
        "and manifest re-reads; the traced run also resumes after half the ranges are lost"
    )

    def _runner(self, out, ranges: int = RANGES):
        from name_matching_spark.plans.checkpoint import CheckpointedLinkage

        return CheckpointedLinkage(
            out, num_ranges=ranges, schema=self.schema,
            blocking=self.blocking, matcher=self.matcher,
        )

    @staticmethod
    def crash(runner) -> list[int]:
        """Delete every other range manifest, as a crash would leave them."""
        lost = list(range(0, RANGES, 2))
        for i in lost:
            os.remove(runner._manifest_path(i))
        return lost

    def run(self, limit: int | None = None):
        out = fresh_dir(self.name, "warm" if limit else "run")
        t0 = time.perf_counter()
        # each range costs seconds of job overhead whatever its size, so the
        # warm-up runs its slice as one range: every code path once, for
        # less than a full run
        runner = self._runner(out, RANGES if limit is None else 1)
        ran = runner.run(self.read(limit))
        return {"dir": out, "runner": runner, "ran": ran}, {"wall_s": time.perf_counter() - t0}

    def check(self, res, ref):
        m = res["runner"].results(self.spark)
        fp = checks.fingerprint(m, ["id1", "id2", "classification", "score"])
        rows = checks.seeded_sample(m, self.seed, ["id1", "id2", "score"])
        problems = []
        if ref is not None and fp != ref:
            problems.append("fingerprint differs from the first iteration")
        if res["ran"] != list(range(RANGES)):
            problems.append("a fresh run skipped ranges")
        if "lost" in res:
            if fp != res["before"]:
                problems.append("resumed output differs from the uninterrupted output")
            if res["resumed"] != res["lost"]:
                problems.append("resume did not rerun exactly the lost ranges")
        if checks.score_mismatches(rows, self.by_id, self.matcher):
            problems.append("sampled scores differ from core.match_records")
        return problems, fp

    def quality(self, res):
        m = res["runner"].results(self.spark)
        edges = m.filter(F.col("classification") == "match").select("id1", "id2").collect()
        labels = checks.union_find(self.by_id.keys(), edges)
        return [], checks.pairwise_f1(labels, self.data.truth)

    def trace(self, tr):
        out = fresh_dir(self.name, "trace")
        runner = self._runner(out)
        with tr.span("iteration"):
            with tr.span("sources.read"):
                df = self.read().localCheckpoint()
            with tr.span("checkpoint"):
                ran = runner.run(df)
        self.sc.setJobGroup(f"{tr.run_id}/counts", "counts")
        before = checks.fingerprint(runner.results(self.spark), ["id1", "id2", "classification", "score"])
        lost = self.crash(runner)
        with tr.span("resume"):
            resumed = runner.run(df)
        m = self.span_metrics(tr)
        rows = sum(mf["counters"]["rows_written"] for mf in self._manifests(runner))
        nbytes = parquet_bytes(os.path.join(out, "matches"))
        m.update({
            "sinks.rows_written": rows,
            "sinks.bytes_written": nbytes,
            "sinks.bytes_per_row": nbytes / rows,
            "checkpoint.ranges_run": len(ran),
            "checkpoint.s_per_range": m["checkpoint.busy_s"] / len(ran),
        })
        return m, {"dir": out, "runner": runner, "ran": ran, "lost": lost,
                   "resumed": resumed, "before": before}

    @staticmethod
    def _manifests(runner):
        for i in range(RANGES):
            with open(runner._manifest_path(i)) as f:
                yield json.load(f)


# -- content_near_dup: MinHash LSH -> exact rerank -> connected components ---------


class ContentNearDup(Workload):
    name = "content_near_dup"
    why = (
        "seeded source files with a controlled near-duplicate share: MinHash LSH, "
        "exact shingle rerank and clustering, no name scoring"
    )

    def __init__(self, spark, data, seed):
        super().__init__(spark, data, seed)
        self.ids = list(data.frame["doc_id"])

    def profile(self) -> dict:
        """LSH candidate pairs, counted by the program under test in every run."""
        from name_matching_spark.operators.dedup import minhash_lsh_pairs

        self.pairs = minhash_lsh_pairs(self.read(), **NEAR_DUP).count()
        return {"candidate_pairs": self.pairs}

    def run(self, limit: int | None = None):
        from name_matching_spark.operators.clustering import connected_components
        from name_matching_spark.operators.dedup import minhash_lsh_pairs, shingle_jaccard_rerank
        from name_matching_spark.sources.sinks import write_match_results

        out = fresh_dir(self.name, "warm" if limit else "run")
        t0 = time.perf_counter()
        df = self.read(limit)
        pairs = minhash_lsh_pairs(df, **NEAR_DUP)
        near = shingle_jaccard_rerank(
            df, pairs, threshold=RERANK_THRESHOLD, shingle_len=NEAR_DUP["shingle_len"],
            text_col="content", id_col="doc_id",
        )
        write_match_results(near, f"{out}/near_dups", mode="overwrite")
        comps = connected_components(self.spark.read.parquet(f"{out}/near_dups"))
        comps.write.mode("overwrite").parquet(f"{out}/clusters")
        return {"dir": out}, {"wall_s": time.perf_counter() - t0}

    def check(self, res, ref):
        near = self.spark.read.parquet(f"{res['dir']}/near_dups")
        c = self.spark.read.parquet(f"{res['dir']}/clusters")
        fp = (
            checks.fingerprint(near, ["id1", "id2", "intersection", "size1", "size2"]),
            checks.fingerprint(c, ["record_id", "cluster_id"]),
        )
        rows = checks.seeded_sample(near, self.seed, ["id1", "id2", "jaccard"])
        problems = []
        if ref is not None and fp != ref:
            problems.append("fingerprint differs from the first iteration")
        if checks.jaccard_mismatches(
            rows, self.data.frame, NEAR_DUP["shingle_len"], RERANK_THRESHOLD
        ):
            problems.append("sampled Jaccard values differ from a plain-Python recount")
        if checks.cluster_label_errors(c):
            problems.append("cluster id is not the component minimum")
        return problems, fp

    def quality(self, res):
        edges = self.spark.read.parquet(f"{res['dir']}/near_dups").select("id1", "id2").collect()
        got = dict(self.spark.read.parquet(f"{res['dir']}/clusters").toPandas().values.tolist())
        want = checks.union_find(self.ids, edges)
        labels = {x: got.get(x, x) for x in self.ids}
        problems = [] if labels == want else ["clusters differ from a union-find over the pairs"]
        return problems, checks.pairwise_f1(labels, self.data.truth)

    def trace(self, tr):
        from name_matching_spark.operators.clustering import CC_DRIVER_EDGE_CAP, connected_components
        from name_matching_spark.operators.dedup import (
            minhash_band_signatures,
            minhash_lsh_pairs,
            shingle_jaccard_rerank,
        )
        from name_matching_spark.sources.sinks import write_match_results

        out = fresh_dir(self.name, "trace")
        with tr.span("iteration"):
            with tr.span("sources.read"):
                df = self.read().localCheckpoint()
            with tr.span("dedup.minhash"):
                minhash_band_signatures(
                    df, NEAR_DUP["num_hashes"], NEAR_DUP["bands"], NEAR_DUP["shingle_len"],
                    "content", "doc_id",
                ).localCheckpoint()
            with tr.span("dedup.lsh"):
                pairs = minhash_lsh_pairs(df, **NEAR_DUP).localCheckpoint()
            with tr.span("dedup.rerank"):
                near = shingle_jaccard_rerank(
                    df, pairs, threshold=RERANK_THRESHOLD,
                    shingle_len=NEAR_DUP["shingle_len"], text_col="content", id_col="doc_id",
                ).localCheckpoint()
            with tr.span("clustering"):
                comps = connected_components(near).localCheckpoint()
            with tr.span("sinks"):
                write_match_results(near, f"{out}/near_dups", mode="overwrite")
                comps.write.mode("overwrite").parquet(f"{out}/clusters")

        self.sc.setJobGroup(f"{tr.run_id}/counts", "counts")
        n_pairs = pairs.count()
        edges = near.count()
        comp = comps.groupBy("cluster_id").count().agg(
            F.count("*").alias("n"), F.max("count").alias("mx")
        ).first()
        written = edges + comps.count()
        m = self.span_metrics(tr)
        nbytes = parquet_bytes(out)
        m.update({
            "sinks.rows_written": written,
            "sinks.bytes_written": nbytes,
            "sinks.bytes_per_row": nbytes / written,
            "dedup.candidate_pairs": n_pairs,
            "dedup.rerank_precision": edges / n_pairs,
            "clustering.edges": edges,
            "clustering.components": comp["n"],
            "clustering.max_component": comp["mx"] or 0,
            "clustering.driver_path": int(edges <= CC_DRIVER_EDGE_CAP),
        })
        return m, {"dir": out}


WORKLOADS = {w.name: w for w in (PersonSkewed, RepoDiverse, CheckpointResume, ContentNearDup)}
