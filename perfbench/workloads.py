"""The benchmark workloads.

Each workload generates its inputs from the seed (``generate``), writes
them to parquet (``load``), and then runs the program in two ways:

* ``run``: the public entry points, as a user calls them, with the
  result collected to the driver. This is what end-to-end metrics time.
* ``run_traced``: the same computation composed layer by layer from the
  modules' public functions, one ``Tracer`` span per layer call plus one
  materialization of that layer's output. Its result must equal
  ``run``'s, which shows the composition still matches the entry point.

``check`` validates a result against the planted truth. It returns the
list of failed checks (empty when correct) and the result's quality
metrics, ``pair_f1`` first. ``repeatable`` is the part of a result that
must be the same in every call.

``incremental_append`` also has ``stage`` (set-up work before the
session starts), ``reset`` (before every call) and ``written`` (bytes
the last call wrote to the warehouse).
"""

from __future__ import annotations

import hashlib
import os
import re
import shutil
import subprocess
import sys
from collections import Counter

import gen
from eventlog import by_prefix
from harness import materialize

MB = 1e6
INPUT_PARTS = 4  # input files, so the stages before the first shuffle run 4 tasks


def digest(rows: dict) -> str:
    """Order-independent digest of keyed lists of collected rows."""
    h = hashlib.sha256()
    for key in sorted(rows):
        for row in sorted(tuple(r) for r in rows[key]):
            h.update(repr(row).encode())
    return h.hexdigest()


def _one_rep_per_cluster(rows, cluster: int, rep: int) -> bool:
    reps = Counter()
    members = set()
    for r in rows:
        if r[cluster] is not None:
            members.add(r[cluster])
            reps[r[cluster]] += bool(r[rep])
    return all(reps[c] == 1 for c in members)


class FilesDedup:
    """``dedup_pipeline`` over a planted files corpus."""

    name = "files_dedup"
    n_files = 12000
    f1_floor = 0.80

    def generate(self, seed: int) -> None:
        corpus = gen.files_corpus(seed, self.n_files)
        self.rows = corpus.rows
        self.truth = {r[1]: fam for r, fam in zip(corpus.rows, corpus.family)}
        self.corrupt = {r[1] for r in corpus.rows if not re.search(r"\w", r[4])}
        self.n_records = len(corpus.rows)

    def load(self, work: str) -> None:
        self.path = os.path.join(work, "input", "files.parquet")
        gen.write_parquet(self.rows, gen.FILES_COLUMNS, self.path, INPUT_PARTS)

    def run(self, spark) -> dict:
        from dedupe_spark.config import PipelineConfig
        from dedupe_spark.operators.dedup import dedup_pipeline

        out = dedup_pipeline(spark.read.parquet(self.path), PipelineConfig())
        return {"files": out.select("path", "cluster_id", "is_representative").collect()}

    def run_traced(self, spark, tr) -> dict:
        """``dedup_pipeline`` with the default config, layer by layer."""
        from pyspark.sql import functions as F

        from dedupe_spark.config import PipelineConfig
        from dedupe_spark.functions.fingerprint import with_fingerprints
        from dedupe_spark.operators.blocking import (
            candidate_pairs,
            cap_degree,
            exact_groups,
            lsh_buckets,
        )
        from dedupe_spark.operators.cc import connected_components
        from dedupe_spark.operators.representative import (
            order_cols_for,
            with_representative,
        )
        from dedupe_spark.operators.scoring import score_pairs

        cfg = PipelineConfig()
        n = F.count(F.lit(1))
        files = spark.read.parquet(self.path)
        with tr.span("fingerprint") as s:
            fp = s.build(
                with_fingerprints,
                files,
                shingle_k=cfg.shingle_k,
                num_perm=cfg.num_perm,
                bands=cfg.lsh_bands,
                rows=cfg.lsh_rows,
                normalize=cfg.normalize,
            ).cache()
            row = fp.agg(n.alias("rows"), F.count("error").alias("errors")).first()
            s.count(rows=row["rows"], error_rows=row["errors"])
        fp_slim = fp.select(
            "file_id", "content_sha", "simhash", "minhash_sig", "band_keys", "error"
        )
        with tr.span("blocking.exact") as s:
            eg = s.build(exact_groups, fp_slim).cache()
            dup = F.when(F.col("exact_group_size") >= 2, F.col("exact_rep"))
            s.count(groups=eg.agg(F.countDistinct(dup)).first()[0])
        reps = fp_slim.join(
            eg.filter(F.col("file_id") == F.col("exact_rep")).select("file_id"),
            "file_id",
        )
        with tr.span("blocking.buckets") as s:
            buckets = s.build(
                lsh_buckets,
                reps,
                max_bucket_size=cfg.max_bucket_size,
                bucket_salt=cfg.bucket_salt,
            )
            buckets, got = materialize(buckets, rows=n)
            s.count(rows=got["rows"])
        with tr.span("blocking.candidates") as s:
            pairs = s.build(
                candidate_pairs,
                buckets,
                neighbors_per_band=cfg.neighbors_per_band,
                hamming_prefilter=(
                    cfg.hamming_threshold if cfg.require_agreement >= 2 else None
                ),
            )
            pairs = s.build(cap_degree, pairs, max_degree=cfg.max_candidate_degree)
            pairs, got = materialize(pairs, pairs=n)
            s.count(pairs=got["pairs"])
        with tr.span("scoring") as s:
            scored = s.build(
                score_pairs,
                pairs,
                fp_slim,
                hamming_threshold=cfg.hamming_threshold,
                jaccard_threshold=cfg.jaccard_threshold,
                require_agreement=cfg.require_agreement,
            )
            scored, got = materialize(
                scored, pairs_in=n, edges=F.sum(F.col("is_match").cast("long"))
            )
            s.count(pairs_in=got["pairs_in"], edges=got["edges"] or 0)
            edges = scored.filter("is_match")
        with tr.span("cc") as s:
            comp = s.build(
                connected_components, edges, max_iterations=cfg.cc_max_iterations
            )
            comp, got = materialize(comp, vertices=n)
            s.count(edges_in=tr.total("scoring", "edges"), vertices=got["vertices"])
        with tr.span("representative") as s:
            rep_label = comp.withColumnRenamed("file_id", "exact_rep")
            assignment = (
                eg.join(rep_label, "exact_rep", "left")
                .withColumn(
                    "cluster_id",
                    F.when(F.col("component").isNotNull(), F.col("component")).when(
                        F.col("exact_group_size") >= 2, F.col("exact_rep")
                    ),
                )
                .select("file_id", "cluster_id")
            )
            out = s.build(
                with_representative,
                fp.join(assignment, "file_id", "left"),
                order_cols=order_cols_for(cfg.rep_order),
            )
            rows = out.select("path", "cluster_id", "is_representative").collect()
        return {"files": rows}

    def check(self, result: dict) -> tuple[list[str], dict]:
        rows = result["files"]
        bad = []
        if sorted(r[0] for r in rows) != sorted(self.truth):
            bad.append("rows out differ from rows in")
        if not _one_rep_per_cluster(rows, 1, 2):
            bad.append("a cluster without exactly one representative")
        if any(r[1] is not None for r in rows if r[0] in self.corrupt):
            bad.append("a corrupt row was clustered")
        f1 = gen.pair_f1({r[0]: r[1] for r in rows}, self.truth)
        if f1 < self.f1_floor:
            bad.append(f"pair_f1 {f1:.4f} under floor {self.f1_floor}")
        return bad, {"pair_f1": f1}

    def repeatable(self, result: dict) -> dict:
        """The part of a result that must equal the first repetition's."""
        return result

    def layers(self, tr, groups) -> dict:
        g = lambda name: by_prefix(groups, f"{tr.run}:{name}")  # noqa: E731
        scored = tr.total("scoring", "pairs_in")
        return {
            "fingerprint.self_s": tr.total("fingerprint"),
            "fingerprint.task_s": g("fingerprint").task_ms / 1e3,
            "fingerprint.rows": tr.total("fingerprint", "rows"),
            "fingerprint.error_rows": tr.total("fingerprint", "error_rows"),
            "blocking.exact.self_s": tr.total("blocking.exact"),
            "blocking.exact.groups": tr.total("blocking.exact", "groups"),
            "blocking.buckets.self_s": tr.total("blocking.buckets"),
            "blocking.buckets.rows": tr.total("blocking.buckets", "rows"),
            "blocking.candidates.self_s": tr.total("blocking.candidates"),
            "blocking.candidates.pairs": tr.total("blocking.candidates", "pairs"),
            "blocking.task_s": g("blocking").task_ms / 1e3,
            "blocking.shuffle_write_mb": g("blocking").shuffle_write_bytes / MB,
            "scoring.self_s": tr.total("scoring"),
            "scoring.task_s": g("scoring").task_ms / 1e3,
            "scoring.pairs_in": scored,
            "scoring.edges": tr.total("scoring", "edges"),
            "scoring.match_ratio": tr.total("scoring", "edges") / scored if scored else 0.0,
            "cc.self_s": tr.total("cc"),
            "cc.task_s": g("cc").task_ms / 1e3,
            "cc.jobs": g("cc").jobs,
            "cc.edges_in": tr.total("cc", "edges_in"),
            "cc.vertices": tr.total("cc", "vertices"),
            "representative.self_s": tr.total("representative"),
            "representative.task_s": g("representative").task_ms / 1e3,
        }


class EntityLink:
    """``link_records``, then ``fs_link``, then Jaro-Winkler pairing
    (``linkage.candidate_pairs`` → ``score_pairs_jw``) over a planted
    people table with over-cap blocks."""

    name = "entity_link"
    n_rows = 5000
    hot_blocks = 2
    hot_rows = 700
    # lowered from the library default (10,000) so that planted over-cap
    # blocks stay small; the census and fallback path are the same
    max_block = 500
    max_distance = 2
    fields = ["name", "city", "birth_year"]
    m = {"name": 0.9, "city": 0.9, "birth_year": 0.95}
    threshold_weight = 9.0
    jw_min = 0.9
    f1_floor = 0.90
    fs_f1_floor = 0.80

    def generate(self, seed: int) -> None:
        e = gen.entity_corpus(
            seed, self.n_rows, hot_blocks=self.hot_blocks, hot_rows=self.hot_rows
        )
        self.rows = e.rows
        self.truth = dict(enumerate(e.entity))
        self.block = {r[0]: r[1] for r in e.rows}
        self.hot = set(e.hot)
        self.n_records = len(e.rows)
        from dedupe_spark.operators.linkage import DEFAULT_HOT_BLOCK_WINDOW

        # per candidate_pairs call, with the default sorted-neighbourhood window
        self.predicted = gen.predicted_pairs(
            e.block_sizes, e.hot, DEFAULT_HOT_BLOCK_WINDOW
        )

    def load(self, work: str) -> None:
        self.path = os.path.join(work, "input", "entities.parquet")
        gen.write_parquet(self.rows, gen.ENTITY_COLUMNS, self.path, INPUT_PARTS)

    def _args(self) -> dict:
        return dict(id_col="rid", block_cols=["blk"], max_block=self.max_block)

    def run(self, spark) -> dict:
        from dedupe_spark.operators import fellegi, linkage

        df = spark.read.parquet(self.path)
        cols = ["id", "cluster_id", "is_representative"]
        link = linkage.link_records(
            df, compare_col="name", max_distance=self.max_distance, **self._args()
        ).select(*cols).collect()
        fs = fellegi.fs_link(
            df,
            fields=self.fields,
            m=self.m,
            threshold_weight=self.threshold_weight,
            **self._args(),
        ).select(*cols).collect()
        pairs = linkage.candidate_pairs(df, compare_col="name", **self._args())
        jw = linkage.score_pairs_jw(pairs, min_similarity=self.jw_min)
        return {"link": link, "fs": fs, "jw": jw.select("id1", "id2").collect()}

    def _cluster(self, tr, edges, block_cols, n_edges: int):
        """The clustering step of ``link_records`` and ``fs_link`` with a
        block cap: per-block union-find on cold edges, global CC on
        edges from over-cap blocks."""
        from pyspark.sql import functions as F

        from dedupe_spark.operators.cc import (
            connected_components,
            partitioned_components,
        )

        with tr.span("cc") as s:
            comp = s.build(
                partitioned_components,
                edges.filter(~F.col("from_hot_block")),
                key_cols=block_cols,
            )
            hot = s.build(
                connected_components,
                edges.filter(F.col("from_hot_block")).select("id1", "id2"),
            )
            comp, got = materialize(comp.unionByName(hot), vertices=F.count(F.lit(1)))
            s.count(edges_in=n_edges, vertices=got["vertices"])
        return comp

    def run_traced(self, spark, tr) -> dict:
        """The three calls of ``run``, layer by layer."""
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        from dedupe_spark.operators import fellegi, linkage

        n = F.count(F.lit(1))
        df = spark.read.parquet(self.path)
        ids = df.select(F.col("rid").alias("id")).filter(F.col("id").isNotNull())
        block_cols = ["blk"]

        # link_records
        with tr.span("linkage.candidates") as s:
            pairs = s.build(
                linkage.candidate_pairs, df, compare_col="name", **self._args()
            )
            pairs, got = materialize(pairs, pairs=n)
            s.count(pairs=got["pairs"])
            s.count(
                hot_blocks=pairs.filter("from_hot_block").select("blk").distinct().count()
            )
        with tr.span("linkage.score") as s:
            edges = s.build(
                linkage.score_pairs,
                pairs,
                max_distance=self.max_distance,
                carry=[*block_cols, "from_hot_block"],
            )
            edges, got = materialize(edges, edges=n)
            s.count(edges=got["edges"])
        comp = self._cluster(tr, edges, block_cols, got["edges"])
        with tr.span("linkage.assign"):
            out = ids.join(comp.withColumnRenamed("file_id", "id"), "id", "left").select(
                "id", F.col("component").alias("cluster_id")
            )
            w = Window.partitionBy(F.coalesce(F.col("cluster_id"), F.col("id")))
            size = F.count("*").over(w)
            keep = F.col("cluster_id").isNotNull() & (size >= 2)
            link = out.select(
                "id",
                F.when(keep, F.col("cluster_id")).alias("cluster_id"),
                F.when(keep, F.col("id") == F.min("id").over(w)).alias(
                    "is_representative"
                ),
            ).collect()

        # fs_link (u estimated from the table, as with u=None)
        with tr.span("fellegi.u") as s:
            u = s.build(fellegi.estimate_u, df, fields=self.fields)
        with tr.span("fellegi.pairs") as s:
            fpairs = s.build(fellegi.field_pairs, df, fields=self.fields, **self._args())
            fpairs, got = materialize(fpairs, pairs=n)
            s.count(pairs=got["pairs"])
        with tr.span("fellegi.score") as s:
            fedges = s.build(fellegi.fs_score, fpairs, fields=self.fields, m=self.m, u=u)
            fedges = fedges.filter(
                F.col("match_weight") >= self.threshold_weight
            ).select("id1", "id2", *block_cols, "from_hot_block")
            fedges, got = materialize(fedges, edges=n)
            s.count(edges=got["edges"])
        fcomp = self._cluster(tr, fedges, block_cols, got["edges"])
        with tr.span("fellegi.assign"):
            out = ids.join(
                fcomp.withColumnRenamed("file_id", "id"), "id", "left"
            ).select("id", F.col("component").alias("cluster_id"))
            w = Window.partitionBy(F.coalesce(F.col("cluster_id"), F.col("id")))
            fs = out.select(
                "id",
                "cluster_id",
                F.when(
                    F.col("cluster_id").isNotNull(), F.col("id") == F.min("id").over(w)
                ).alias("is_representative"),
            ).collect()

        # Jaro-Winkler pairing
        with tr.span("linkage.candidates") as s:
            jpairs = s.build(
                linkage.candidate_pairs, df, compare_col="name", **self._args()
            )
            jpairs, got = materialize(jpairs, pairs=n)
            s.count(pairs=got["pairs"])
        with tr.span("strsim.jw") as s:
            jw = s.build(linkage.score_pairs_jw, jpairs, min_similarity=self.jw_min)
            jw = jw.select("id1", "id2").collect()
            s.count(pairs_in=got["pairs"], edges=len(jw))
        return {"link": link, "fs": fs, "jw": jw}

    def check(self, result: dict) -> tuple[list[str], dict]:
        bad, f1 = [], {}
        for key, floor in (("link", self.f1_floor), ("fs", self.fs_f1_floor)):
            rows = result[key]
            if sorted(r[0] for r in rows) != sorted(self.truth):
                bad.append(f"{key}: rows out differ from rows in")
            if not _one_rep_per_cluster(rows, 1, 2):
                bad.append(f"{key}: a cluster without exactly one representative")
            f1[key] = gen.pair_f1({r[0]: r[1] for r in rows}, self.truth)
            if f1[key] < floor:
                bad.append(f"{key}: pair_f1 {f1[key]:.4f} under floor {floor}")
        for a, b in result["jw"]:
            if not (a < b and self.block[a] == self.block[b]):
                bad.append(f"jw: edge ({a}, {b}) is not an in-block id1 < id2 pair")
                break
        if not result["jw"]:
            bad.append("jw: no edges")
        return bad, {"pair_f1": f1["link"], "fellegi.pair_f1": f1["fs"]}

    def repeatable(self, result: dict) -> dict:
        """Everything but ``fs_link``'s rows from over-cap blocks, which
        differ between identical calls (see NOTES.md)."""
        fs = [r for r in result["fs"] if self.block[r[0]] not in self.hot]
        return {"link": result["link"], "fs": fs, "jw": result["jw"]}

    def layers(self, tr, groups) -> dict:
        g = lambda name: by_prefix(groups, f"{tr.run}:{name}")  # noqa: E731
        calls = sum(1 for s in tr.spans if s.name == "linkage.candidates")
        jw_in = tr.total("strsim.jw", "pairs_in")
        return {
            "linkage.candidates.build_s": tr.total("linkage.candidates", "build_s"),
            "linkage.candidates.build_jobs": g("linkage.candidates:build").jobs,
            "linkage.candidates.self_s": tr.total("linkage.candidates"),
            "linkage.hot_blocks": tr.total("linkage.candidates", "hot_blocks"),
            "linkage.pairs.predicted": self.predicted * calls,
            "linkage.pairs.actual": tr.total("linkage.candidates", "pairs"),
            "linkage.score.self_s": tr.total("linkage.score"),
            "linkage.edges": tr.total("linkage.score", "edges"),
            "linkage.task_s": g("linkage").task_ms / 1e3,
            "linkage.shuffle_write_mb": g("linkage").shuffle_write_bytes / MB,
            "fellegi.u.self_s": tr.total("fellegi.u"),
            "fellegi.pairs.build_jobs": g("fellegi.pairs:build").jobs,
            "fellegi.pairs.self_s": tr.total("fellegi.pairs"),
            "fellegi.score.self_s": tr.total("fellegi.score"),
            "fellegi.task_s": g("fellegi").task_ms / 1e3,
            "strsim.jw.self_s": tr.total("strsim.jw"),
            "strsim.jw.task_s": g("strsim.jw").task_ms / 1e3,
            "strsim.jw.pairs_in": jw_in,
            "strsim.jw.pass_ratio": tr.total("strsim.jw", "edges") / jw_in if jw_in else 0.0,
            "cc.self_s": tr.total("cc"),
            "cc.task_s": g("cc").task_ms / 1e3,
            "cc.jobs": g("cc").jobs,
            "cc.edges_in": tr.total("cc", "edges_in"),
            "cc.vertices": tr.total("cc", "vertices"),
        }


def _listing(root: str) -> dict[str, tuple[int, int, int]]:
    """relative path → (inode, size, mtime) of every file under ``root``."""
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            st = os.stat(os.path.join(d, f))
            out[os.path.relpath(os.path.join(d, f), root)] = (st.st_ino, st.st_size, st.st_mtime_ns)
    return out


class IncrementalAppend(FilesDedup):
    """``incremental_update`` of a staged warehouse with one append batch.

    The base corpus is the same in every run; only the batch depends on
    the seed. The first run in a checkout stages the base with
    ``StagedPipeline.run`` during set-up, in a JVM of its own, and keeps
    a copy of the warehouse next to the runs' scratch directories; later
    runs use that copy instead of staging the base again. Every
    repetition starts from the copy, so each one appends the same batch
    to the same base."""

    name = "incremental_append"
    base_seed = 0
    n_base = 2000
    n_batch = 200

    def generate(self, seed: int) -> None:
        base = gen.files_corpus(self.base_seed, self.n_base)
        batch = gen.append_batch(seed, base, self.n_batch)
        self.base_rows, self.rows = base.rows, batch.rows
        rows, family = base.rows + batch.rows, base.family + batch.family
        self.truth = {r[1]: fam for r, fam in zip(rows, family)}
        self.corrupt = {r[1] for r in rows if not re.search(r"\w", r[4])}
        self.n_records = len(batch.rows)

    def load(self, work: str) -> None:
        self.base_path = os.path.join(work, "input", "base.parquet")
        self.path = os.path.join(work, "input", "batch.parquet")
        gen.write_parquet(self.rows, gen.FILES_COLUMNS, self.path, INPUT_PARTS)
        self.work = work
        self.warehouse = os.path.join(work, "warehouse")
        self.snapshot = os.path.join(
            os.path.dirname(work), "cache", f"incremental-base-{self.base_seed}-{self.n_base}"
        )

    def _cfg(self):
        from dedupe_spark.config import PipelineConfig

        return PipelineConfig(run_id="bench", warehouse=self.warehouse)

    def stage(self) -> None:
        """Stage the base run and keep a copy of its warehouse, unless an
        earlier run in this checkout already did. Staging runs in a child
        process with a JVM of its own, so that the measured call is the
        first in its JVM in every run."""
        if os.path.isdir(self.snapshot):
            return
        gen.write_parquet(self.base_rows, gen.FILES_COLUMNS, self.base_path, INPUT_PARTS)
        script = os.path.join(os.path.dirname(os.path.abspath(__file__)), "stage_base.py")
        child = subprocess.Popen(
            [sys.executable, script, os.path.join(self.work, "stage"), self.base_path, self.warehouse]
        )
        try:
            code = child.wait()
        finally:
            if child.poll() is None:  # the run was stopped while staging
                child.terminate()
                try:
                    child.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    child.kill()
                    child.wait()
        if code != 0:
            raise RuntimeError(f"staging the base failed with exit code {code}")
        tmp = f"{self.snapshot}.{os.getpid()}"
        shutil.copytree(self.warehouse, tmp)
        try:
            os.rename(tmp, self.snapshot)
        except OSError:  # a concurrent run kept its copy first
            shutil.rmtree(tmp)

    def reset(self) -> None:
        """Restore the staged base from its copy."""
        shutil.rmtree(self.warehouse, ignore_errors=True)
        shutil.copytree(self.snapshot, self.warehouse)
        self._before = _listing(self.warehouse)

    def written(self) -> tuple[int, int]:
        """(bytes, files) the last repetition wrote to the warehouse."""
        new = [
            v[1] for k, v in _listing(self.warehouse).items() if self._before.get(k) != v
        ]
        return sum(new), len(new)

    def _result(self, spark) -> list:
        from dedupe_spark.plans.staged import StagedPipeline

        out = StagedPipeline(spark, self._cfg()).result()
        return out.select("path", "cluster_id", "is_representative").collect()

    def run(self, spark) -> dict:
        from dedupe_spark.plans.incremental import incremental_update

        incremental_update(spark, spark.read.parquet(self.path), self._cfg())
        return {"files": self._result(spark)}

    def run_traced(self, spark, tr) -> dict:
        """The same call in one span; its stages time themselves."""
        from dedupe_spark.plans.incremental import incremental_update

        with tr.span("incremental") as s:
            counts = incremental_update(spark, spark.read.parquet(self.path), self._cfg())
            s.count(**{f"{k}_s": v for k, v in counts["stage_seconds"].items()})
        with tr.span("catalog") as s:
            write_bytes, files = self.written()
            s.count(write_mb=write_bytes / MB, files_written=files)
            rows = self._result(spark)
        return {"files": rows}

    def layers(self, tr, groups) -> dict:
        stages = ("fingerprints", "exact", "buckets", "edges", "labels", "assignment")
        out = {f"incremental.{k}_s": tr.total("incremental", f"{k}_s") for k in stages}
        out["incremental.task_s"] = by_prefix(groups, f"{tr.run}:incremental").task_ms / 1e3
        out["catalog.write_mb"] = tr.total("catalog", "write_mb")
        out["catalog.files_written"] = tr.total("catalog", "files_written")
        return out


WORKLOADS = {w.name: w for w in (FilesDedup, EntityLink, IncrementalAppend)}
