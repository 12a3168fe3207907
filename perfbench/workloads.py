"""The three benchmark workloads: kg_build, kg_stream, kg_query.

Each workload is a closed loop with one client. It exposes:

- ``prepare(spark)``: untimed set-up that a user pays once per session
  (dictionary build, warm-up operation); counted in ``setup_s``.
- ``op(i)``: one timed operation, returning an ``OpResult``.
- ``verify()``: checks every timed operation's output against an
  independent reference; returns one error string per wrong operation.
- ``layer_metrics(ledger)``: the per-layer numbers of a traced window.
"""

from __future__ import annotations

import hashlib
import json
import os
import time
import uuid
from collections import Counter
from dataclasses import dataclass
from datetime import timezone

from spans import Tracer, attribute, union_seconds

TRIPLES_DDL = "conv_id string, turn_idx int, subj_id long, pred_id long, obj_id long"


@dataclass
class OpResult:
    wall_s: float
    units: int  # turns (kg_build, kg_stream) or queries (kg_query)
    samples: list[float]  # latency samples: runs, epochs or passes
    ok: bool = True
    error: str = ""


def rows_digest(rows) -> str:
    """Order-independent digest of a result set (rows as tuples)."""
    canon = sorted("|".join("" if v is None else str(v) for v in r) for r in rows)
    return hashlib.sha1("\n".join(canon).encode()).hexdigest()


def read_turns(path: str, columns=("conv_id", "turn_idx", "text")) -> list[tuple]:
    """Rows of the generated turns parquet file(s) at ``path``, read with
    pyarrow (no Spark)."""
    import pyarrow.parquet as pq

    t = pq.read_table(path, columns=list(columns))
    return list(zip(*(t[c].to_pylist() for c in columns)))


def golden_triples(turns, patterns) -> set[tuple[str, int, int, int, int]]:
    """``datagen.reference_triples`` (the program's pure-Python golden
    extractor) over (conv_id, turn_idx, text) rows, one turn at a time with
    the dictionary cut down to the patterns whose token sequence occurs in
    that turn. A pattern that does not occur adds no hit, so the result is
    the one of the full dictionary; the naive scan of all 100k patterns per
    turn would take hours."""
    from mehari_spark.datagen import Turn, reference_triples

    by_tokens: dict[tuple, list[int]] = {}
    for k, p in enumerate(patterns):
        by_tokens.setdefault(p.tokens, []).append(k)
    lens = sorted({len(t) for t in by_tokens})
    out: set[tuple[str, int, int, int, int]] = set()
    for conv_id, turn_idx, text in turns:
        toks = text.split(" ") if text else []
        hit = sorted({
            k for n in lens for i in range(len(toks) - n + 1)
            for k in by_tokens.get(tuple(toks[i : i + n]), ())
        })
        if hit:
            turn = Turn(conv_id, turn_idx, "", text, None, None)
            out |= reference_triples([turn], [patterns[k] for k in hit])
    return out


def components(nodes, pairs) -> dict:
    """node -> smallest node id of its connected component."""
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in nodes}


def coref_reference(triples) -> set[tuple[str, int, int]]:
    """(conv_id, entity_id, cluster_id): per conversation, the connected
    components of its distinct subject-object edges (self-loops dropped),
    labelled by their smallest entity id, as operators.coref.coref_clusters
    defines them."""
    edges: dict[str, set[tuple[int, int]]] = {}
    for conv_id, _turn, subj, _pred, obj in triples:
        if subj != obj:
            edges.setdefault(conv_id, set()).add((min(subj, obj), max(subj, obj)))
    out = set()
    for conv_id, es in edges.items():
        for node, label in components({n for e in es for n in e}, es).items():
            out.add((conv_id, node, label))
    return out


def read_rows(table_dir: str, cols: list[str]) -> Counter:
    """Rows (as tuples of ``cols``) of a bucketed table's committed parquet
    files, read with pyarrow, with their multiplicity."""
    import pyarrow.parquet as pq

    t = pq.read_table(table_dir, columns=cols)
    return Counter(zip(*(t[c].to_pylist() for c in cols)))


def _load_ref(path: str) -> dict | None:
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    return None


def _save_ref(path: str, ref: dict) -> None:
    with open(path + ".tmp", "w") as f:
        json.dump(ref, f)
    os.replace(path + ".tmp", path)


def _job_stats(ledger: dict, lo: float, hi: float) -> dict:
    """Spark totals for the jobs submitted inside [lo, hi]."""
    jobs = [j for j in ledger["jobs"] if j["submit"] is not None and lo <= j["submit"] <= hi]
    stage_ids = {s for j in jobs for s in j["stages"]}
    stages = [s for (sid, _a), s in ledger["stages"].items() if sid in stage_ids]
    return {
        "jobs": jobs,
        "stages": stages,
        "intervals": [(j["submit"], j["end"] or hi) for j in jobs],
    }


class Workload:
    name = ""
    unit = ""
    min_ops = 1
    corrupt = False  # self-test: make the expected output wrong
    ref_s = 0.0  # time spent computing references (not set-up)

    def __init__(self, spark, tracer: Tracer, inputs: str, meta: dict, work: str):
        self.spark = spark
        self.tracer = tracer
        self.inputs = inputs
        self.meta = meta
        self.work = work
        self.ref_path = os.path.join(inputs, "reference.json")

    def out_dir(self, tag: str) -> str:
        # unique per operation: resumable bucket checkpoints never skip work
        return os.path.join(self.work, f"{tag}-{uuid.uuid4().hex[:8]}")

    def reference(self) -> dict:
        """The expected outputs for this seed, computed once and cached
        next to the inputs."""
        ref = _load_ref(self.ref_path)
        if ref is None:
            t0 = time.time()
            ref = self.compute_reference()
            _save_ref(self.ref_path, ref)
            self.ref_s += time.time() - t0
        return self.corrupted(ref) if self.corrupt else ref

    def install_trace(self) -> None:
        """Wrap the program functions this workload calls (traced runs)."""

    def cancel(self) -> None:
        self.spark.sparkContext.cancelAllJobs()


# ---------------------------------------------------------------------------
# kg_build
# ---------------------------------------------------------------------------


class KgBuild(Workload):
    """plans.pipeline.run_pipeline (fused, 8 buckets) over a replicated
    transcript table with a 100k-alias multi-token dictionary."""

    name = "kg_build"
    unit = "turns"
    # four timed runs after the warm-up one: they still speed up run by run
    # (JIT), so the median needs the same count in every run
    min_ops = 4
    TRIPLE_COLS = ["conv_id", "turn_idx", "subj_id", "pred_id", "obj_id"]
    ENTITY_COLS = ["conv_id", "entity_id", "cluster_id"]

    def prepare(self) -> None:
        from mehari_spark.datagen import big_dictionary
        from mehari_spark.dictionary import DEMO_PREDICATES

        from gen import VOCAB

        self.patterns = big_dictionary(
            sorted(VOCAB), self.meta["aliases"], seed=self.meta["thin_seed"],
            predicates=DEMO_PREDICATES,
        )
        turns_dir = os.path.join(self.inputs, "turns")
        self.turns_df = self.spark.read.parquet(turns_dir)
        self.outputs: list[str] = []
        # warm-up: worker pool, per-worker automaton build, JIT
        pipeline_run(self.spark, self.turns_df, self.patterns, self.out_dir("warm"))

    def op(self, i: int) -> OpResult:
        out = self.out_dir("build")
        t0 = time.time()
        pipeline_run(self.spark, self.turns_df, self.patterns, out)
        wall = time.time() - t0
        self.outputs.append(out)
        return OpResult(wall, self.meta["turns"], [wall])

    def compute_reference(self) -> dict:
        """golden_triples on the base replica and their coref_reference."""
        tri = golden_triples(read_turns(os.path.join(self.inputs, "base")), self.patterns)
        return {"triples": sorted(tri), "entities": sorted(coref_reference(tri))}

    def corrupted(self, ref: dict) -> dict:
        return {**ref, "triples": ref["triples"][1:]}

    def verify(self) -> list[str]:
        """Every run's committed triples and entity clusters equal the
        reference replicated with the generator's conv_id suffixes, row for
        row."""
        ref = self.reference()
        suffixes = [f"_{self.meta['conv_suffix']}r{r}" for r in range(self.meta["replicas"])]
        want = {
            k: Counter((row[0] + sfx, *row[1:]) for row in ref[k] for sfx in suffixes)
            for k in ("triples", "entities")
        }
        errors = []
        for out in self.outputs:
            for k, cols in (("triples", self.TRIPLE_COLS), ("entities", self.ENTITY_COLS)):
                got = read_rows(os.path.join(out, k), cols)
                if got != want[k]:
                    errors.append(
                        f"{os.path.basename(out)} {k}: {got.total()} rows, want {want[k].total()}; "
                        f"{len(got - want[k])} unexpected, {len(want[k] - got)} missing"
                    )
        return errors

    def install_trace(self) -> None:
        from mehari_spark.plans import pipeline

        tr = self.tracer
        tr.wrap(pipeline, "extract_triples_fused", "operators.triples.build")
        tr.wrap(pipeline, "coref_clusters", "operators.coref.build")

        def rows(sp, res):
            sp.attrs["rows_out"] = sum(r.rows_out for r in res)

        tr.wrap(
            pipeline, "write_bucketed", "plans.lineage.write_bucketed:",
            on_result=rows, label=lambda a, kw: kw.get("stage", "triples"),
        )

    def layer_metrics(self, ledger: dict, ops: list[OpResult]) -> dict:
        spans = self.tracer.spans
        n = max(1, len(ops))
        writes = [s for s in spans if s.name.startswith("plans.lineage.write_bucketed:")]
        out = {
            "operators.triples.rows_out": sum(
                s.attrs.get("rows_out", 0) for s in writes if s.name.endswith(":triples")
            ) / n,
            "plans.lineage.write_s": sum(s.dur for s in writes) / n,
        }
        # commit tail: time inside a bucketed write after its last job ended
        commit = 0.0
        for s in writes:
            ends = [j["end"] for j in ledger["jobs"] if j["end"] and s.start <= j["submit"] <= s.end]
            commit += s.end - max(ends) if ends else s.dur
        out["plans.lineage.commit_s"] = commit / n
        out["plans.lineage.bytes_written"] = sum(map(_du, self.outputs)) / len(self.outputs)
        tri_spans = [s for s in writes if s.name.endswith(":triples")] + [
            s for s in spans if s.name == "operators.triples.build"
        ]
        coref_spans = [s for s in writes if s.name.endswith(":entities")] + [
            s for s in spans if s.name == "operators.coref.build"
        ]
        py = _exec_metric_by_span(ledger, spans, "time to run Python workers")
        out["operators.triples.python_s"] = sum(py.get(s.sid, 0.0) for s in tri_spans) / n
        out["operators.coref.python_s"] = sum(py.get(s.sid, 0.0) for s in coref_spans) / n
        shuffle = 0.0
        for s in coref_spans:
            st = _job_stats(ledger, s.start, s.end)
            shuffle += sum(x["shuffle_write"] for x in st["stages"])
        out["operators.coref.shuffle_bytes"] = shuffle / n
        return out


def pipeline_run(spark, turns, patterns, out: str) -> dict:
    from mehari_spark.plans import pipeline

    return pipeline.run_pipeline(
        spark, turns, patterns, out, n_partitions=8, n_buckets=8, mode="fused"
    )


def _du(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def _exec_metric_by_span(ledger: dict, spans, name: str) -> dict[int, float]:
    """SQL metric ``name`` summed per innermost span (by submission time)."""
    out: dict[int, float] = {}
    for e in ledger["execs"]:
        sp = attribute(spans, e["submit"])
        if sp is not None:
            out[sp.sid] = out.get(sp.sid, 0.0) + e["metrics"].get(name, 0.0)
    return out


# ---------------------------------------------------------------------------
# kg_stream
# ---------------------------------------------------------------------------


class KgStream(Workload):
    """streaming.kg_stream.stream_kg_maintain draining a backlog of arrival
    chunks: availableNow, one file per trigger, 8 buckets, degree view
    maintained, 25-pattern demo dictionary."""

    name = "kg_stream"
    unit = "turns"

    def prepare(self) -> None:
        from mehari_spark.dictionary import demo_patterns

        self.patterns = demo_patterns()
        self.cancelled = False
        self.drains: list[tuple[str, str, int]] = []
        self.progress: list[dict] = []
        self._drain(os.path.join(self.inputs, "warm"))
        self.drains.clear()
        self.progress.clear()

    def _drain(self, input_dir: str) -> list[dict]:
        from mehari_spark.streaming.kg_stream import stream_kg_maintain

        out = self.out_dir("stream")
        table, ckpt = os.path.join(out, "table"), os.path.join(out, "ckpt")
        self.query = stream_kg_maintain(
            self.spark, input_dir, table, ckpt, self.patterns, n_buckets=8,
            max_files_per_trigger=1, maintain_degree=True, available_now=True,
        )
        try:
            self.query.awaitTermination()
        finally:
            if self.query.isActive:
                self.query.stop()
        if self.cancelled:
            raise TimeoutError("drain stopped at the operation timeout")
        if self.query.exception() is not None:
            raise RuntimeError(str(self.query.exception()))
        prog = [p for p in self.query.recentProgress if p["numInputRows"] > 0]
        self.drains.append((table, ckpt, len(prog)))
        return prog

    def cancel(self) -> None:
        self.cancelled = True
        self.query.stop()

    def op(self, i: int) -> OpResult:
        t0 = time.time()
        prog = self._drain(os.path.join(self.inputs, "timed"))
        wall = time.time() - t0
        self.progress.extend(prog)
        epochs = [p["durationMs"]["triggerExecution"] / 1000.0 for p in prog]
        return OpResult(wall, self.meta["timed_turns"], epochs)

    def compute_reference(self) -> dict:
        """triples_asof over the golden_triples of every arrival."""
        from mehari_spark.operators.graph import triples_asof

        turns = read_turns(os.path.join(self.inputs, "timed"), ("conv_id", "turn_idx", "text", "ts"))
        ts = {(c, i): int(t.replace(tzinfo=timezone.utc).timestamp()) for c, i, _x, t in turns}
        golden = golden_triples([r[:3] for r in turns], self.patterns)
        tri = self.spark.createDataFrame(
            sorted(g + (ts[g[:2]],) for g in golden), TRIPLES_DDL + ", ts_epoch long"
        )
        return {"current": sorted(tuple(r) for r in triples_asof(tri).collect())}

    def corrupted(self, ref: dict) -> dict:
        return {"current": ref["current"][1:]}

    def verify(self) -> list[str]:
        from mehari_spark.plans.lineage import _ckpt_path
        from mehari_spark.streaming.kg_stream import read_kg_current

        want = [tuple(r) for r in self.reference()["current"]]
        errors = []
        for table, ckpt, n_epochs in self.drains:
            got = sorted(tuple(r) for r in read_kg_current(self.spark, table).collect())
            if got != want:
                errors.append(f"{table}: {len(got)} current rows differ from {len(want)} reference rows")
            scope = os.path.abspath(ckpt)
            with open(_ckpt_path(table)) as f:
                done = [
                    r["epoch"] for r in map(json.loads, f)
                    if r.get("status") == "epoch_done" and r.get("scope") == scope
                ]
            if sorted(done) != list(range(n_epochs)):
                errors.append(f"{table}: epoch_done rows {sorted(done)} for {n_epochs} epochs")
        return errors

    def install_trace(self) -> None:
        from mehari_spark.plans import incremental
        from mehari_spark.streaming import kg_stream

        self.progress.clear()  # per-epoch layer values cover the traced window only
        tr = self.tracer
        tr.wrap(kg_stream, "extract_batch_updates", "streaming.kg_stream.extract_build")

        def merged(sp, res):
            sp.attrs["buckets"] = len(res["touched_buckets"])
            sp.attrs["rows"] = sum(res["rows_after"].get(b, 0) for b in res["touched_buckets"])

        tr.wrap(kg_stream, "merge_into_bucketed", "plans.merge", on_result=merged)
        tr.wrap(incremental, "refresh_partials", "plans.incremental.refresh")

    def layer_metrics(self, ledger: dict, ops: list[OpResult]) -> dict:
        from mehari_spark.plans.lineage import _ckpt_path

        spans = self.tracer.spans
        n = max(1, len(self.progress))  # per epoch
        merges = [s for s in spans if s.name == "plans.merge"]
        py = _exec_metric_by_span(ledger, spans, "time to run Python workers")
        table = self.drains[-1][0]
        log_files = [f for f in os.listdir(table) if f.startswith("_checkpoints")]
        return {
            "plans.merge.s": sum(s.dur for s in merges) / n,
            "plans.merge.buckets_rewritten": sum(s.attrs.get("buckets", 0) for s in merges) / n,
            "plans.merge.write_amp_rows": sum(s.attrs.get("rows", 0) for s in merges) / n,
            "plans.incremental.refresh_s": sum(
                s.dur for s in spans if s.name == "plans.incremental.refresh"
            ) / n,
            # the fused kernel is the stream's only Python node
            "streaming.kg_stream.extract_s": (
                sum(py.values()) + sum(s.dur for s in spans if s.name == "streaming.kg_stream.extract_build")
            ) / n,
            "streaming.trigger_overhead_s": sum(
                (p["durationMs"]["triggerExecution"] - p["durationMs"].get("addBatch", 0)) / 1000.0
                for p in self.progress
            ) / n,
            "plans.lineage.log_bytes": os.path.getsize(_ckpt_path(table)),
            "plans.lineage.log_files": len(log_files),
        }


# ---------------------------------------------------------------------------
# kg_query
# ---------------------------------------------------------------------------

# A subset of bench.HEADLINE: one pass of all 24 headline queries takes
# ~22 s warm even at 500 documents on 4 cores (job-count bound), which does
# not fit a run. These three keep the layers the headline list exercises
# beyond kg_build/kg_stream: MinHash + LSH banding, the shared stage cache
# (the second query reuses the first one's pairs), the global pointer-
# jumping connected components, and an iterative graph loop (PageRank).
QUERY_SET = ["doc_minhash_pairs", "doc_dedup_clusters_lsh", "kg_pagerank"]
ORACLE_CHECKED = ["kg_pagerank"]
JACCARD_THRESHOLD = 0.95
MIN_LSH_RECALL = 0.95  # the bar tests/test_dedup_similarity.py holds


def exact_jaccard_pairs(doc_ids, texts) -> list[list]:
    """[doc_a, doc_b, jaccard] for every pair with doc_a < doc_b whose
    distinct space-separated tokens have Jaccard >= JACCARD_THRESHOLD."""
    toks = [set(t.split(" ")) for t in texts]
    out = []
    for i, (a, ta) in enumerate(zip(doc_ids, toks)):
        for b, tb in zip(doc_ids[i + 1 :], toks[i + 1 :]):
            inter = len(ta & tb)
            j = inter / (len(ta) + len(tb) - inter)
            if j >= JACCARD_THRESHOLD:
                out.append([min(a, b), max(a, b), j])
    return out


class KgQuery(Workload):
    """Registry queries from the headline list over the generated corpus,
    stage cache cleared between passes (as bench.py does)."""

    name = "kg_query"
    unit = "queries"
    # four timed passes after the checked one; the first of them is still
    # 20-30% slower than later ones (JIT), in every run alike
    min_ops = 4

    def prepare(self) -> None:
        from mehari_spark.plans.queries import QUERIES

        import bench  # the repo's headline list, read-only

        missing = [q for q in QUERY_SET if q not in bench.HEADLINE]
        if missing:
            raise RuntimeError(f"not headline queries: {missing}")
        self.fns = {q: QUERIES[q][0] for q in QUERY_SET}
        self.ref = self.reference()
        self.counts: dict[str, int] = {}
        self.errors: list[str] = []
        self.per_query: dict[str, list[float]] = {q: [] for q in QUERY_SET}
        self._checked_pass()

    def compute_reference(self) -> dict:
        """DuckDB oracle_sql() digests of the oracle-checked queries over
        the generated documents, and the exact Jaccard pairs for the LSH
        ones."""
        import duckdb
        import pyarrow.parquet as pq

        from mehari_spark.plans.queries import QUERIES

        path = os.path.join(self.inputs, "documents.parquet")
        con = duckdb.connect()
        con.execute(f"CREATE VIEW documents AS SELECT * FROM '{path}'")
        ref = {"digest": {}, "rows": {}}
        for q in ORACLE_CHECKED:
            rel = con.execute(QUERIES[q][1])
            cols = [d[0] for d in rel.description]
            rows = rel.fetchall()
            order = sorted(range(len(cols)), key=lambda k: cols[k])
            ref["digest"][q] = rows_digest([tuple(r[k] for k in order) for r in rows])
            ref["rows"][q] = len(rows)
        con.close()
        docs = pq.read_table(path, columns=["doc_id", "text"])
        ref["doc_ids"] = docs["doc_id"].to_pylist()
        ref["exact_pairs"] = exact_jaccard_pairs(ref["doc_ids"], docs["text"].to_pylist())
        return ref

    def corrupted(self, ref: dict) -> dict:
        return {**ref, "digest": {q: "0" * 40 for q in ref["digest"]}}

    def _checked_pass(self) -> None:
        """Untimed warm-up pass: every query's full result is collected and
        checked; its row count becomes the expectation for timed passes."""
        from mehari_spark.plans.stagecache import clear_shared_stages

        clear_shared_stages()
        sf = self.inputs
        results = {}
        for q in QUERY_SET:
            pdf = self.fns[q](self.spark, sf).toPandas()
            results[q] = pdf
            self.counts[q] = len(pdf)
        for q in ORACLE_CHECKED:
            pdf = results[q][sorted(results[q].columns)]
            got = rows_digest(pdf.itertuples(index=False))
            if got != self.ref["digest"][q]:
                self.errors.append(f"{q}: digest differs from oracle_sql ({len(pdf)} vs {self.ref['rows'][q]} rows)")
        exact = {(a, b): j for a, b, j in self.ref["exact_pairs"]}
        pairs = {
            (int(r.doc_a), int(r.doc_b)): round(float(r.jaccard), 6)
            for r in results["doc_minhash_pairs"].itertuples(index=False)
        }
        # the query rounds the Jaccard value to 6 digits
        wrong = [p for p, j in pairs.items() if p not in exact or abs(exact[p] - j) > 5.01e-7]
        if wrong:
            self.errors.append(f"doc_minhash_pairs: {len(wrong)} pairs not exact near-dups, e.g. {wrong[:3]}")
        if exact and len(pairs) < MIN_LSH_RECALL * len(exact):
            self.errors.append(f"doc_minhash_pairs: recall {len(pairs)}/{len(exact)}")
        comp = components(self.ref["doc_ids"], pairs)
        got = {int(r.doc_id): int(r.component_id) for r in results["doc_dedup_clusters_lsh"].itertuples(index=False)}
        if got != comp:
            self.errors.append("doc_dedup_clusters_lsh: components differ from the LSH pairs' union-find")

    def op(self, i: int) -> OpResult:
        from mehari_spark.plans.stagecache import clear_shared_stages

        clear_shared_stages()
        total, bad = 0.0, []
        for q in QUERY_SET:
            with self.tracer.span(f"query.{q}"):
                t0 = time.time()
                with self.tracer.span("plans.queries.build"):
                    df = self.fns[q](self.spark, self.inputs)
                with self.tracer.span("plans.queries.exec"):
                    n = df.count()
                dt = time.time() - t0
            total += dt
            self.per_query[q].append(dt)
            if n != self.counts[q]:
                bad.append(f"{q}: {n} rows, warm-up had {self.counts[q]}")
        return OpResult(total, len(QUERY_SET), [total], ok=not bad, error="; ".join(bad))

    def verify(self) -> list[str]:
        return self.errors

    def layer_metrics(self, ledger: dict, ops: list[OpResult]) -> dict:
        spans = self.tracer.spans
        n = max(1, len(ops))
        out = {
            "plans.queries.build_s": sum(s.dur for s in spans if s.name == "plans.queries.build") / n,
            "plans.queries.exec_s": sum(s.dur for s in spans if s.name == "plans.queries.exec") / n,
        }
        by_sid = {s.sid: s for s in spans}
        for q in QUERY_SET:
            qs = [s for s in spans if s.name == f"query.{q}"]
            out[f"query.{q}.s"] = sum(s.dur for s in qs) / n
            out[f"query.{q}.jobs"] = sum(
                len(_job_stats(ledger, s.start, s.end)["jobs"]) for s in qs
            ) / n
        # LSH yield: verified pairs / band-collision candidates (largest join output)
        cand = 0.0
        for e in ledger["execs"]:
            sp = attribute(spans, e["submit"])
            while sp is not None and not sp.name.startswith("query."):
                sp = by_sid.get(sp.parent)
            if sp is not None and sp.name == "query.doc_minhash_pairs":
                cand = max(cand, e["max_join_rows"])
        out["operators.dedup.lsh_pair_yield"] = (
            self.counts["doc_minhash_pairs"] / cand if cand else 0.0
        )
        return out


WORKLOADS = {w.name: w for w in (KgBuild, KgStream, KgQuery)}


def spark_layer_metrics(ledger: dict, lo: float, hi: float, cores: int, n_units: int) -> dict:
    """Whole-window Spark totals, per operation (or per epoch)."""
    st = _job_stats(ledger, lo, hi)
    stages = st["stages"]
    n = max(1, n_units)
    run_s = sum(s["run_s"] for s in stages)
    execs = [e for e in ledger["execs"] if lo <= e["submit"] <= hi]
    return {
        "spark.jobs": len(st["jobs"]) / n,
        "spark.stages": len(stages) / n,
        "spark.tasks": sum(s["tasks"] for s in stages) / n,
        "spark.failed_tasks": sum(s["failed_tasks"] for s in stages),
        "spark.driver_gap_s": ((hi - lo) - union_seconds(st["intervals"], lo, hi)) / n,
        "spark.executor_run_s": run_s / n,
        "spark.executor_cpu_s": sum(s["cpu_s"] for s in stages) / n,
        "spark.slot_busy_ratio": run_s / ((hi - lo) * cores) if hi > lo else 0.0,
        "spark.shuffle_write_bytes": sum(s["shuffle_write"] for s in stages) / n,
        "spark.shuffle_read_bytes": sum(s["shuffle_read"] for s in stages) / n,
        "spark.spill_bytes": sum(s["spill"] for s in stages) / n,
        "spark.peak_exec_mem_bytes": max((s["peak_mem"] for s in stages), default=0),
        "kernels.python_s": sum(e["metrics"].get("time to run Python workers", 0.0) for e in execs) / n,
        "kernels.arrow_bytes_in": sum(e["metrics"].get("data sent to Python workers", 0.0) for e in execs) / n,
        "kernels.arrow_bytes_out": sum(e["metrics"].get("data returned from Python workers", 0.0) for e in execs) / n,
    }
