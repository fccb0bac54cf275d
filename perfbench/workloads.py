"""The benchmark workloads.

Each workload generates its inputs in ``__init__`` (before set-up and before
any timing) and offers:

- ``cold(spark)``: the first result in a fresh session; returns a check;
- ``warmup(spark)``: untimed work that must precede the closed loop;
- ``op(spark)``: one warm operation; returns ({}, check); the closed loop
  runs at least ``min_ops`` of them;
- ``final_check()``: checks over all operations of the run;
- ``traced_build(spark, tr)`` / ``traced_op(spark, tr)``: the same work with
  every layer call timed from outside; each returns (per-layer numbers,
  check);
- ``trace_counters(eventlog, n_ops)``: per-layer counters from the event log.

A check is a callable run outside the timed region; it raises
:class:`CheckFailed` when the outputs disagree with the generator's
expectations. Layers are reached only through the program's public
functions: ``cli``, ``sources``, ``plans``, ``core.io``, ``functions.text``,
``operators.dedup`` and ``operators.similarity``.
"""

from __future__ import annotations

import os
import shutil
import statistics
import threading

import gen


class CheckFailed(Exception):
    """An operation's output disagreed with the generator's expectation."""


def _expect(what: str, got, want) -> None:
    if got != want:
        raise CheckFailed(f"{what}: got {got}, expected {want}")


def _tree_bytes(path: str) -> tuple[int, int]:
    """(data files, bytes) of the part files under ``path``."""
    n = size = 0
    for d, _, files in os.walk(path):
        for f in files:
            if f.startswith("part-"):
                n += 1
                size += os.path.getsize(os.path.join(d, f))
    return n, size


class _Dirs:
    """Numbered scratch directories; creating the next removes the last."""

    def __init__(self, work: str, stem: str):
        self.work, self.stem, self.n, self.cur = work, stem, 0, None

    def fresh(self) -> str:
        if self.cur is not None:
            shutil.rmtree(self.cur, ignore_errors=True)
        self.n += 1
        self.cur = os.path.join(self.work, f"{self.stem}{self.n}")
        os.makedirs(self.cur)
        return self.cur


class LandingsBatch:
    """The paper's six-stage DAG through ``cli.run_stage`` on a fresh
    lakehouse per iteration, one client. The landing zone holds all five
    pinned Kobo forms, trips, GPS points and the device registry."""

    name = "landings_batch"
    clients = 1
    min_ops = 1
    N_SUBMISSIONS = 6000
    N_MATCHED = 400

    def __init__(self, work: str, seed: int):
        self.src = os.path.join(work, "landing")
        self.expect = gen.landings(self.src, seed, self.N_SUBMISSIONS,
                                   self.N_MATCHED)
        self.lakes = _Dirs(work, "lake")
        self.forms = {f: "pinned" for f in gen.FORMS}
        self._lock = threading.Lock()
        self.drains: dict[int, dict[str, float]] = {}

    def _fresh_root(self) -> str:
        root = self.lakes.fresh()
        os.symlink(self.src, os.path.join(root, "landing"))
        return root

    def cold(self, spark):
        return self.op(spark)[1]

    def warmup(self, spark) -> None:
        pass

    def final_check(self) -> None:
        pass

    def op(self, spark):
        from peskas_malawi_data_pipeline_spark.cli import STAGES, run_stage

        root = self._fresh_root()
        counts = {s: run_stage(spark, s, root, forms=self.forms)
                  for s in STAGES}
        return {}, lambda: self._check(spark, root, counts)

    def _check(self, spark, root: str, counts: dict) -> int:
        """Checks one DAG's outputs; returns its alert rows."""
        from pyspark.sql import functions as F

        from peskas_malawi_data_pipeline_spark.core.io import read_table

        e = self.expect
        for stage in ("ingest", "preprocess", "validate", "export-landings"):
            _expect(f"{stage} rows", counts[stage], e["rows"])
        _expect("merged rows", counts["merge"], e["merged"])
        _expect("track buckets", counts["export-tracks"], e["track_buckets"])
        alerts = (read_table(spark, f"{root}/validated")
                  .filter(F.col("alert_number") != "").count())
        _expect("alert rows", alerts, e["alert_rows"])
        return alerts

    def traced_build(self, spark, tr):
        return {}, lambda: None

    @staticmethod
    def _stage_group(r: int, stage: str) -> str:
        return f"stage.{stage}.{r}"

    def trace_counters(self, ev, n_ops: int) -> dict:
        """Event-log numbers per traced DAG. Write and read-back times come
        from each ``run_stage`` call's own job group: its file-write
        execution minus the drain of the same layer output, and everything
        after the write (``run_stage`` re-reads its output to count it)."""
        write, readback = [], []
        for r, drains in self.drains.items():
            w = b = 0.0
            for stage, drained in drains.items():
                t_w, t_b = ev.write_and_after(self._stage_group(r, stage))
                w += max(0.0, t_w - drained)
                b += t_b
            write.append(w)
            readback.append(b)

        def per_dag(key: str, pred) -> float:
            return ev.total(key, pred) / n_ops

        def dag(g: str) -> bool:
            return g.startswith("stage.")

        return {
            "core.io.write_s": statistics.median(write),
            "core.io.readback_s": statistics.median(readback),
            "plans.preprocess.shuffle_bytes":
                per_dag("shuffle_bytes", lambda g: g == "plans.preprocess"),
            "plans.validate.jobs": per_dag("jobs", lambda g: g == "plans.validate"),
            "jvm.gc_s": per_dag("gc_ms", dag) / 1e3,
            "spark.tasks": per_dag("tasks", dag),
        }

    def _layers(self, spark, tr, root: str, stage: str, out: dict) -> float:
        """Split one stage into layers: build the stage's layer output from
        the inputs ``run_stage`` is about to read, and drain it and its
        inputs through the ``noop`` sink. A layer's busy time is its output
        drain minus its input drains (layer calls are lazy; the call itself
        is plan time). Returns the output drain's seconds."""
        from pyspark.sql import functions as F

        from peskas_malawi_data_pipeline_spark.core.io import read_table
        from peskas_malawi_data_pipeline_spark.plans import (export, ingest,
                                                             merge, preprocess,
                                                             validate)
        from peskas_malawi_data_pipeline_spark.sources import (form_schemas,
                                                               kobo, pds,
                                                               sheets)

        land = f"{root}/landing"

        def add(key: str, v: float) -> None:
            out[key] = out.get(key, 0.0) + v

        def plan(layer: str, fn, *args):
            df, t = tr.timed(f"{layer}.plan", fn, *args, group=layer)
            add(f"{layer}.plan_ms", 1e3 * t)
            return df

        def busy(layer: str, df, inputs: float) -> float:
            t = tr.drain(layer, df)
            add(f"{layer}.busy_s", max(0.0, t - inputs))
            return t

        def read(path: str):
            df = read_table(spark, f"{root}/{path}")
            return df, tr.drain("core.io.read", df)

        if stage == "ingest":
            forms, kobo_s, rows_in, corrupt = {}, 0.0, 0, 0
            for form in gen.FORMS:
                path = f"{land}/{form}.jsonl"
                df = kobo.read_form_json(spark, path, form)
                kobo_s += tr.drain("sources.kobo", df)
                # Spark refuses a raw-JSON query that references only the
                # corrupt-record column, so the audit reads a cached copy
                audit = kobo.read_form_json(spark, path, form,
                                            drop_corrupt=False).cache()
                lines = audit.count()
                bad = audit.filter(F.col("_corrupt_record").isNotNull()).count()
                audit.unpersist()
                rows_in += lines - bad
                corrupt += bad
                forms[form] = (df, form_schemas.FORM_LAYOUT_KEYS[form])
            out["sources.kobo.busy_s"] = kobo_s
            out["sources.kobo.rows_in"] = rows_in
            out["sources.kobo.corrupt_lines"] = corrupt
            out["sources.kobo.corrupt_ratio"] = corrupt / (rows_in + corrupt)
            return busy("plans.ingest",
                        plan("plans.ingest", ingest.ingest_landings, forms),
                        kobo_s)
        if stage == "preprocess":
            df, t_in = read("raw")
            return busy("plans.preprocess", plan(
                "plans.preprocess", preprocess.preprocess_landings, df), t_in)
        if stage == "validate":
            df, t_in = read("preprocessed")
            return busy("plans.validate", plan(
                "plans.validate", validate.validate_landings, df), t_in)
        if stage == "merge":
            df, t_in = read("validated")
            trips = pds.read_trips_csv(spark, f"{land}/trips.csv")
            t_trips = tr.drain("sources.pds", trips)
            add("sources.pds.busy_s", t_trips)
            devices = sheets.read_devices_csv(spark, f"{land}/devices.csv")
            t_dev = tr.drain("sources.sheets", devices)
            return busy("plans.merge", plan(
                "plans.merge", merge.merge_trips, df, trips, devices),
                t_in + t_trips + t_dev)
        if stage == "export-landings":
            df, t_in = read("validated")
            return busy("plans.export", plan(
                "plans.export", export.export_landings, df), t_in)
        df, t_in = read("merged_trips")
        points = pds.read_points_csv(spark, f"{land}/points.csv")
        t_points = tr.drain("sources.pds", points)
        add("sources.pds.busy_s", t_points)
        return busy("plans.export", plan(
            "plans.export", export.export_matched_tracks, df, points),
            t_in + t_points)

    def traced_op(self, spark, tr):
        """The DAG through ``cli.run_stage``, one span and job group per
        stage. Before each stage, :meth:`_layers` splits the same work into
        layers; write and read-back times come from the event log."""
        from peskas_malawi_data_pipeline_spark.cli import STAGES, run_stage

        with self._lock:
            r = len(self.drains)
            self.drains[r] = drains = {}
        root = self._fresh_root()
        out: dict[str, float] = {}
        counts: dict[str, int] = {}
        with tr.span("landings.dag", request=str(r)):
            for stage in STAGES:
                drains[stage] = self._layers(spark, tr, root, stage, out)
                group = self._stage_group(r, stage)
                counts[stage], _ = tr.timed(group, run_stage, spark, stage,
                                            root, forms=self.forms)
        out["plans.merge.match_ratio"] = counts["merge"] / self.expect["trips"]
        out["core.io.files_written"], out["core.io.bytes_written"] = \
            _tree_bytes(root)

        def check():
            _expect("kobo rows in", out["sources.kobo.rows_in"],
                    self.expect["submissions"])
            _expect("corrupt lines", out["sources.kobo.corrupt_lines"],
                    self.expect["corrupt_lines"])
            alerts = self._check(spark, root, counts)
            out["plans.validate.alert_ratio"] = alerts / counts["validate"]
        return out, check


class CorpusAnn:
    """Curate a generated corpus (quality gate, MinHash-LSH pairs, star
    connected components, survivor anti-join and write), build an IVF-PQ
    index over the survivors' embeddings once, then serve 8-query top-10
    searches against the persisted index from two closed-loop clients."""

    name = "corpus_ann"
    clients = 2
    min_ops = 4
    N_DOCS = 4000
    N_DUP_PAIRS = 400
    N_JUNK = 120
    DIM = 32
    N_CLUSTERS = 64
    N_QUERIES = 16
    BATCH = 8
    K = 10
    M = 16
    K_CENTROIDS = 64
    N_LISTS = 16
    NPROBE = 4
    MIN_DEDUP_RECALL = 0.8
    MIN_ANN_RECALL = 0.3

    def __init__(self, work: str, seed: int):
        self.src = os.path.join(work, "corpus")
        self.expect = gen.corpus(self.src, seed, self.N_DOCS,
                                 self.N_DUP_PAIRS, self.N_JUNK, self.DIM,
                                 self.N_CLUSTERS, self.N_QUERIES)
        self.qid0 = self.expect["docs"]
        self.survivor_dirs = _Dirs(work, "survivors")
        self.index_dirs = _Dirs(work, "index")
        self._lock = threading.Lock()
        self._next = 0
        self.results: dict[int, list[int]] = {}
        self.truth: list[list[int]] = []

    # -- curation ---------------------------------------------------------
    def _docs(self, spark):
        return spark.read.schema("doc_id long, text string").json(
            f"{self.src}/corpus.jsonl")

    @staticmethod
    def _gate(docs):
        from pyspark.sql import functions as F

        from peskas_malawi_data_pipeline_spark.functions import text as T

        g = F.explode(F.array(T.gopher_struct(F.col("text")))).alias("g")
        return (docs.select("doc_id", "text", g)
                .filter(T.gopher_passes(F.col("g"))).select("doc_id", "text"))

    @staticmethod
    def _survivors(gated, comps):
        from pyspark.sql import functions as F

        losers = comps.filter(F.col("id") != F.col("component")) \
            .select(F.col("id").alias("doc_id"))
        return gated.join(losers, "doc_id", "left_anti")

    def _curation_check(self, spark, pairs_df, comps_df, out_dir,
                        found: dict) -> None:
        """Candidate-pair recall and precision against the planted pairs, a
        union-find replay of the components, and the survivor count. Fills
        ``found`` and the exact top-K over the survivors before any check
        can fail."""
        from peskas_malawi_data_pipeline_spark.core.io import read_table

        pairs = {(r.id_a, r.id_b) for r in pairs_df.collect()}
        comps = {r.id: r.component for r in comps_df.collect()}
        survivors = [r.doc_id for r in
                     read_table(spark, out_dir).select("doc_id").collect()]
        self.truth = gen.exact_topk(self.expect["embeddings"], survivors,
                                    self.expect["queries"], self.K)
        planted = set(map(tuple, self.expect["planted_pairs"]))
        found.update({
            "operators.dedup.candidate_pairs": len(pairs),
            "operators.dedup.recall": len(pairs & planted) / len(planted),
            "operators.dedup.pair_precision":
                len(pairs & planted) / max(1, len(pairs))})
        parent: dict[int, int] = {}

        def find(x: int) -> int:
            while parent.setdefault(x, x) != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in pairs:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        if comps != {n: find(n) for n in parent}:
            raise CheckFailed("connected components disagree with a "
                              "union-find over the candidate pairs")
        losers = sum(1 for k, v in comps.items() if k != v)
        _expect("survivors", len(survivors), self.expect["passing"] - losers)
        recall = found["operators.dedup.recall"]
        if recall < self.MIN_DEDUP_RECALL:
            raise CheckFailed(f"dedup recall {recall:.3f} < "
                              f"{self.MIN_DEDUP_RECALL}")

    # -- index ------------------------------------------------------------
    def _index_corpus(self, spark, survivors_dir: str):
        from pyspark.sql import functions as F

        from peskas_malawi_data_pipeline_spark.core.io import read_table

        ids = read_table(spark, survivors_dir).select(
            F.col("doc_id").alias("corpus_id"))
        emb = read_table(spark, f"{self.src}/embeddings.parquet").select(
            F.col("doc_id").alias("corpus_id"), "embedding")
        return emb.join(ids, "corpus_id")

    def _open(self, spark, idx: str) -> None:
        from peskas_malawi_data_pipeline_spark.core.io import read_table
        from peskas_malawi_data_pipeline_spark.operators import similarity as S

        self.cb = S.codebook_from_table(read_table(spark, f"{idx}/codebook"))
        self.coarse = S.coarse_from_table(read_table(spark, f"{idx}/coarse"))
        self.idx = idx

    def cold(self, spark):
        from peskas_malawi_data_pipeline_spark.core.io import write_table
        from peskas_malawi_data_pipeline_spark.operators import dedup
        from peskas_malawi_data_pipeline_spark.operators import similarity as S

        gated = self._gate(self._docs(spark))
        pairs = dedup.minhash_lsh_pairs(gated)
        comps = dedup.connected_components_star(pairs)
        out_dir = self.survivor_dirs.fresh()
        write_table(self._survivors(gated, comps), out_dir)

        corpus = self._index_corpus(spark, out_dir)
        cb = S.pq_codebook(corpus, m=self.M, k_centroids=self.K_CENTROIDS)
        coarse = S.ivf_coarse_centroids(corpus, n_centroids=self.N_LISTS)
        idx = self.index_dirs.fresh()
        write_table(S.ivf_pq_encode_corpus(corpus, cb, coarse), f"{idx}/coded")
        write_table(S.codebook_to_table(spark, cb), f"{idx}/codebook")
        write_table(S.coarse_to_table(spark, coarse), f"{idx}/coarse")
        self._open(spark, idx)
        return lambda: self._curation_check(spark, pairs, comps, out_dir, {})

    def warmup(self, spark) -> None:
        """Serve one request before timing, which compiles the search plan.
        Requests walk the query pool in order, so with it and the timed
        loop's first request every query is served and recall covers the
        fixed pool."""
        _, check = self.op(spark)
        check()

    # -- serving ----------------------------------------------------------
    def _request(self) -> tuple[int, list[int]]:
        with self._lock:
            r = self._next
            self._next += 1
        start = (r * self.BATCH) % self.N_QUERIES
        return r, [(start + j) % self.N_QUERIES for j in range(self.BATCH)]

    def _search(self, spark, qidx: list[int]):
        from peskas_malawi_data_pipeline_spark.core.io import read_table
        from peskas_malawi_data_pipeline_spark.operators import similarity as S

        Q = self.expect["queries"]
        q = spark.createDataFrame(
            [(self.qid0 + i, Q[i].tolist()) for i in qidx],
            "query_id long, embedding array<double>")
        coded = read_table(spark, f"{self.idx}/coded")
        return S.ivf_pq_search_coded(q, coded, self.cb, self.coarse, k=self.K,
                                     nprobe=self.NPROBE)

    def _check_rows(self, rows, qidx: list[int]) -> None:
        got: dict[int, list[tuple[int, int]]] = {i: [] for i in qidx}
        for row in rows:
            got[row.query_id - self.qid0].append((row.rank, row.corpus_id))
        for i, hits in got.items():
            ids = [c for _, c in sorted(hits)]
            _expect(f"query {i} result count", len(ids), self.K)
            with self._lock:
                prev = self.results.setdefault(i, ids)
            if prev != ids:
                raise CheckFailed(f"query {i}: results changed between "
                                  f"requests")

    def op(self, spark):
        _, qidx = self._request()
        rows = self._search(spark, qidx).collect()
        return {}, lambda: self._check_rows(rows, qidx)

    def recall(self) -> float:
        """Recall@K over every query served, each counted once."""
        if not self.truth or not self.results:
            return 0.0
        hit = sum(len(set(ids) & set(self.truth[i]))
                  for i, ids in self.results.items())
        return hit / (self.K * len(self.results))

    def final_check(self) -> None:
        _expect("queries served", len(self.results), self.N_QUERIES)
        if self.recall() < self.MIN_ANN_RECALL:
            raise CheckFailed(f"recall@{self.K} {self.recall():.3f} < "
                              f"{self.MIN_ANN_RECALL}")

    def traced_build(self, spark, tr):
        """Curation and index build again, each layer drained through the
        ``noop`` sink so its busy time is output drain minus input drain.
        Returns (per-layer numbers, check); the check adds the dedup
        numbers."""
        from peskas_malawi_data_pipeline_spark.core.io import write_table
        from peskas_malawi_data_pipeline_spark.operators import dedup
        from peskas_malawi_data_pipeline_spark.operators import similarity as S

        out = {}
        with tr.span("corpus.curate"):
            docs = self._docs(spark)
            t_in = tr.drain("core.io.read", docs)
            gated = self._gate(docs)
            t_gate = tr.drain("functions.text", gated)
            out["functions.text.busy_s"] = max(0.0, t_gate - t_in)
            out["functions.text.pass_ratio"] = gated.count() / self.expect["docs"]

            pairs, t_call = tr.timed("operators.dedup.lsh",
                                     dedup.minhash_lsh_pairs, gated)
            t_pairs = tr.drain("operators.dedup.lsh", pairs)
            out["operators.dedup.lsh_busy_s"] = max(0.0, t_call + t_pairs - t_gate)

            comps, t_call = tr.timed("operators.dedup.components",
                                     dedup.connected_components_star, pairs)
            t_comps = tr.drain("operators.dedup.components", comps)
            out["operators.dedup.components_busy_s"] = max(
                0.0, t_call + t_comps - t_pairs)

            surv = self._survivors(gated, comps)
            t_surv = tr.drain("corpus.survivors", surv)
            out_dir = self.survivor_dirs.fresh()
            _, t_w = tr.timed("core.io.write", write_table, surv, out_dir)
            write_s = max(0.0, t_w - t_surv)
        with tr.span("ann.build"):
            corpus = self._index_corpus(spark, out_dir)
            t_in = tr.drain("core.io.read", corpus)
            cb, t1 = tr.timed("operators.similarity.train", S.pq_codebook,
                              corpus, m=self.M, k_centroids=self.K_CENTROIDS)
            coarse, t2 = tr.timed("operators.similarity.train",
                                  S.ivf_coarse_centroids, corpus,
                                  n_centroids=self.N_LISTS)
            out["operators.similarity.train_s"] = t1 + t2
            coded = S.ivf_pq_encode_corpus(corpus, cb, coarse)
            t_enc = tr.drain("operators.similarity.encode", coded)
            out["operators.similarity.encode_s"] = max(0.0, t_enc - t_in)
            idx = self.index_dirs.fresh()
            _, t_w = tr.timed("core.io.write", write_table, coded,
                              f"{idx}/coded")
            _, t_cb = tr.timed("core.io.write", write_table,
                               S.codebook_to_table(spark, cb), f"{idx}/codebook")
            _, t_co = tr.timed("core.io.write", write_table,
                               S.coarse_to_table(spark, coarse), f"{idx}/coarse")
            self._open(spark, idx)
        out["core.io.write_s"] = write_s + max(0.0, t_w - t_enc) + t_cb + t_co
        files, size = _tree_bytes(out_dir)
        files_i, size_i = _tree_bytes(idx)
        out["core.io.files_written"] = files + files_i
        out["core.io.bytes_written"] = size + size_i
        return out, lambda: self._curation_check(spark, pairs, comps, out_dir,
                                                 out)

    def trace_counters(self, ev, n_requests: int) -> dict:
        """Event-log counters: the traced curation and build, once, and
        per traced search request."""
        def request(g: str) -> bool:
            return g.startswith("ann.request.")

        def dedup(g: str) -> bool:
            return g.startswith("operators.dedup")

        def per_request(key: str) -> float:
            return ev.total(key, request) / n_requests

        return {
            "operators.dedup.shuffle_bytes": ev.total("shuffle_bytes", dedup),
            "operators.dedup.spill_bytes": ev.total("spill_bytes", dedup),
            "operators.dedup.components_jobs":
                ev.total("jobs", lambda g: g == "operators.dedup.components"),
            "jvm.gc_s": ev.total("gc_ms", lambda g: not request(g)) / 1e3,
            "spark.tasks": ev.total("tasks", lambda g: not request(g)),
            "operators.similarity.jobs_per_request": per_request("jobs"),
            "operators.similarity.rows_scanned_per_query":
                per_request("input_records") / self.BATCH,
            "core.io.read_bytes_per_request": per_request("input_bytes"),
            "spark.tasks_per_request": per_request("tasks"),
            "ann.queue_wait_ms": per_request("queue_wait_ms"),
            "operators.similarity.recall_at_10": self.recall(),
        }

    def traced_op(self, spark, tr):
        r, qidx = self._request()
        group = f"ann.request.{r}"
        with tr.span("ann.request", request=str(r), group=group):
            df, t_plan = tr.timed("operators.similarity.search_plan",
                                  self._search, spark, qidx, group=group)
            with tr.span("ann.collect", group=group):
                rows = df.collect()
        return ({"operators.similarity.search_plan_ms": 1e3 * t_plan},
                lambda: self._check_rows(rows, qidx))


WORKLOADS = {w.name: w for w in (LandingsBatch, CorpusAnn)}
