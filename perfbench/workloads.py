"""The three benchmark workloads, driven through the engine's public
functions from one client thread. Every call into an engine layer sits
inside a tracer span; timings, outputs and byte counts are returned for
the oracles and metrics in run.py.

Lazy results: ``clean`` and ``cdc`` return plans, and so do ``textops``
and ``dedup.minhash_lsh_pairs``; their row work executes inside the span
of the action that forces them (``io.write_parquet`` or
``checkpoint.parquet_checkpoint``). The benchmark adds no
materialization to split them.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field

import pyarrow.parquet as pq

from perfbench import oracles

K = 10  # top-k of every ANN request
NPROBE = 2
N_CENTROIDS = 8
# corpus_curate sends its query set as 1 + 3 * REQUESTS_PER_STAGE requests:
# one right after the index build, then this many after each curation stage
REQUESTS_PER_STAGE = 2
QUERY_REQUESTS = 1 + 3 * REQUESTS_PER_STAGE


@dataclass
class RunOut:
    run_s: float = 0.0
    steps: list = field(default_factory=list)
    probes: list = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    bytes_in: int = 0
    bytes_out: int = 0
    recall: list = field(default_factory=list)  # (hits, wanted)
    f1: list = field(default_factory=list)
    counts: dict = field(default_factory=dict)
    errors: list = field(default_factory=list)

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(what)


def dir_bytes(path: str) -> int:
    """Bytes of a file, or of every file under a directory (0 if absent)."""
    if os.path.isfile(path):
        return os.path.getsize(path)
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


class _Steps:
    """Wall-clock timer for one workload run: the run's total, its client
    steps and its read requests (probes)."""

    def __init__(self, out: RunOut) -> None:
        self.out = out
        self.t0 = self.last = time.perf_counter()

    def _lap(self) -> float:
        now = time.perf_counter()
        dt, self.last = now - self.last, now
        return dt

    def step(self) -> None:
        self.out.steps.append(self._lap())

    def probe(self) -> None:
        self.out.probes.append(self._lap())

    def mark(self) -> None:
        """Start the next lap here without recording the time since the
        last one."""
        self._lap()

    def done(self, batch: bool = False) -> None:
        """A batch client waits for the whole run: its one step is the run."""
        self.out.run_s = time.perf_counter() - self.t0
        if batch:
            self.out.steps.append(self.out.run_s)


# ---------------------------------------------------------------------------
# clean_loop: profile -> detect -> clean -> export -> score -> report
# ---------------------------------------------------------------------------


class CleanLoop:
    def __init__(self, spark, files: dict, truth: dict, tracer) -> None:
        self.spark, self.files, self.truth, self.tr = spark, files, truth, tracer
        self._expected = None

    def run(self, out_dir: str) -> RunOut:
        from etl_hero_spark import clean, detect, io, profile, score

        tr, out = self.tr, RunOut()
        src = self.files["lineitem"]
        export = os.path.join(out_dir, "cleaned")
        st = _Steps(out)
        with tr.span("io", "read_parquet"):
            df = io.read_parquet(self.spark, src)
        with tr.span("profile", "profile_table"):
            prof = profile.profile_table(df).collect()
        st.probe()
        with tr.span("detect", "detect_missions"):
            missions = detect.detect_missions(df).collect()
        st.probe()
        found = {(r["mission"], r["column"], int(r["metric"])) for r in missions}
        numeric = set(profile.numeric_columns(df))
        plan = oracles.remediation_plan(found, numeric)
        cleaned, log = df, []
        for step, col, how in plan:
            if step == "replace_outliers":
                with tr.span("clean", "replace_outliers"):
                    cleaned = clean.replace_outliers(cleaned, col, how)
            elif step == "impute":
                with tr.span("clean", "impute"):
                    cleaned = clean.impute(cleaned, col, how)
            elif step == "drop_duplicates":
                with tr.span("clean", "drop_duplicate_rows"):
                    cleaned = clean.drop_duplicate_rows(cleaned)
            elif step == "normalize_dates":
                with tr.span("clean", "normalize_dates"):
                    cleaned = clean.normalize_dates(cleaned, col)
            log.append(f"{step} {col} {how}".strip())
        with tr.span("io", "write_parquet"):
            io.write_parquet(cleaned, export)
        st.mark()
        with tr.span("io", "read_parquet"):
            after = io.read_parquet(self.spark, export)
        with tr.span("score", "quality_score_df"):
            qs = score.quality_score_df(df, after).collect()[0]
        st.probe()
        with tr.span("score", "insights"):
            ins = score.insights(df, after)
        with tr.span("io", "to_html_report"):
            html = io.to_html_report(df, after, log, ins, ["l_orderkey", "l_linenumber"])
        st.probe()
        st.done(batch=True)

        out.bytes_in = dir_bytes(src)
        out.bytes_out = dir_bytes(export)
        self._check(out, prof, found, plan, export, qs, ins, html)
        return out

    def _check(self, out, prof, found, plan, export, qs, ins, html) -> None:
        if self._expected is None:
            self._expected = oracles.clean_loop_expected(self.files["lineitem"])
        exp = self._expected
        got_prof = {r["column"]: (int(r["n_null"]), int(r["n_unique"])) for r in prof}
        out.check(got_prof == exp["profile"], "profile_table differs from DuckDB")
        out.check(
            found == exp["missions"]
            and {f"{m}:{c}" for m, c, _ in found} >= set(self.truth["expected_missions"]),
            "detect_missions differs from DuckDB or misses a planted mission",
        )
        got = oracles.checksum(export, exp["columns"])
        out.check(plan == exp["plan"] and got == exp["cleaned"], "cleaned table differs")
        got_score = (
            int(qs["nulls_before"]),
            int(qs["nulls_after"]),
            int(qs["dups_before"]),
            int(qs["dups_after"]),
            float(qs["quality_score"]),
        )
        out.check(got_score == exp["score"], "quality score differs")
        out.check(
            ins["rows_before"] == exp["rows_before"]
            and ins["rows_after"] == exp["cleaned"][0]
            and f"rows_after: {exp['cleaned'][0]}" in html,
            "report insights differ",
        )


# ---------------------------------------------------------------------------
# corpus_curate: textops -> stage -> minhash LSH -> components -> IVF top-k
# ---------------------------------------------------------------------------


class CorpusCurate:
    def __init__(self, spark, files: dict, truth: dict, tracer) -> None:
        self.spark, self.files, self.truth, self.tr = spark, files, truth, tracer
        self._brute = None

    def run(self, out_dir: str) -> RunOut:
        from pyspark.sql import functions as F

        from etl_hero_spark import checkpoint, dedup, io, simsearch, textops

        tr, out, spark = self.tr, RunOut(), self.spark
        index = os.path.join(out_dir, "ivf")
        st = _Steps(out)
        # the search index over the embeddings is built first and serves
        # top-k requests between the curation stages, so the requests are
        # spread over the whole run rather than bunched at its end
        with tr.span("io", "read_parquet"):
            emb = io.read_parquet(spark, self.files["embeddings"])
            queries = io.read_parquet(spark, self.files["queries"])
        with tr.span("simsearch", "write_ivf_index"):
            simsearch.write_ivf_index(emb, index, n_centroids=N_CENTROIDS)
        answers = []
        sent = 0

        def serve(n: int, timed: bool = True) -> None:
            nonlocal sent
            for _ in range(n):
                batch = queries.filter(F.col("query_id") % QUERY_REQUESTS == sent)
                sent += 1
                t0 = time.perf_counter()
                with tr.span("simsearch", "topk_cosine_ivf_indexed") as sp:
                    rows = simsearch.topk_cosine_ivf_indexed(
                        spark, batch, index, k=K, nprobe=NPROBE
                    ).collect()
                    sp.counts["results"] = len(rows)
                if timed:
                    out.probes.append(time.perf_counter() - t0)
                answers.extend(rows)

        # the first request after the build pays the one-off compilation of
        # the probe plan; it counts in run_s but not as a probe latency
        serve(1, timed=False)
        with tr.span("io", "read_parquet"):
            docs = io.read_parquet(spark, self.files["documents"])
        with tr.span("textops", "with_clean_text"):
            docs = textops.with_clean_text(docs)
        with tr.span("textops", "gopher_filter"):
            docs = textops.gopher_filter(docs).select("doc_id", "text")
        with tr.span("checkpoint", "parquet_checkpoint"):
            kept = checkpoint.parquet_checkpoint(docs, "curate_docs")
        serve(REQUESTS_PER_STAGE)
        with tr.span("dedup", "minhash_lsh_pairs"):
            pairs = dedup.minhash_lsh_pairs(kept)
        with tr.span("checkpoint", "parquet_checkpoint"):
            pairs = checkpoint.parquet_checkpoint(pairs, "curate_pairs")
        serve(REQUESTS_PER_STAGE)
        with tr.span("dedup", "connected_components"):
            comps = dedup.connected_components(pairs).collect()
        serve(REQUESTS_PER_STAGE)
        st.done(batch=True)

        kept_files = kept.inputFiles()
        pair_files = pairs.inputFiles()
        out.counts["candidate_pairs"] = sum(pq.read_metadata(p).num_rows for p in pair_files)
        out.bytes_in = sum(dir_bytes(self.files[n]) for n in ("documents", "embeddings"))
        out.bytes_out = dir_bytes(index) + sum(
            dir_bytes(os.path.dirname(p)) for p in {kept_files[0], pair_files[0]}
        )
        self._check(out, kept_files, pair_files, comps, answers)
        return out

    def _check(self, out, kept_files, pair_files, comps, answers) -> None:
        import pyarrow as pa

        truth = self.truth
        kept = set(pa.concat_tables([pq.read_table(p) for p in kept_files]).column("doc_id").to_pylist())
        all_ids = set(pq.read_table(self.files["documents"]).column("doc_id").to_pylist())
        out.check(
            kept == all_ids - set(truth["low_quality_ids"]),
            "gopher filter survivors differ from the planted low-quality set",
        )
        pairs = pa.concat_tables([pq.read_table(p) for p in pair_files]).to_pylist()
        # components: min id over the pair graph, recomputed by union-find
        parent: dict[int, int] = {}

        def find(x: int) -> int:
            while parent.setdefault(x, x) != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for p in pairs:
            a, b = find(p["id_a"]), find(p["id_b"])
            if a != b:
                parent[max(a, b)] = min(a, b)
        want = {i: find(i) for i in parent}
        got = {int(r["id"]): int(r["component"]) for r in comps}
        out.check(got == want, "connected_components differs from union-find")
        out.check(all(p["id_a"] in kept and p["id_b"] in kept for p in pairs), "pairs name unknown ids")
        true_pairs = oracles.true_pair_count(truth["groups"], kept)
        out.counts["true_pairs"] = true_pairs
        out.f1.append(oracles.pair_f1(got, truth["groups"], kept))
        if self._brute is None:
            self._brute = oracles.brute_topk([self.files["embeddings"]], self.files["queries"], K)
        check_topk(out, answers, self._brute)


def check_topk(out: RunOut, answers, brute: dict) -> None:
    """One operation: every query answered with ranks 1..K in score order.
    Recall against the brute-force top-K is recorded, not checked."""
    got: dict[int, list] = {}
    for r in answers:
        got.setdefault(int(r["query_id"]), []).append(r)
    ok = set(got) == set(brute)
    ids = {}
    for q, rows in got.items():
        rows.sort(key=lambda r: r["rank"])
        ok = ok and [r["rank"] for r in rows] == list(range(1, K + 1))
        ok = ok and all(rows[i]["score"] >= rows[i + 1]["score"] for i in range(len(rows) - 1))
        ids[q] = {int(r["corpus_id"]) for r in rows}
    out.check(ok, "top-k answer malformed (ranks, order or query set)")
    for q, want in brute.items():
        out.recall.append((len(ids.get(q, set()) & want), len(want)))


# ---------------------------------------------------------------------------
# ingest_serve: closed loop of micro-batches (merge, snapshot, append, probe)
# ---------------------------------------------------------------------------

TABLE_COLS = ["key", "ts", "qty", "price", "cat"]
STAT_COLS = ["qty", "price"]


class IngestServe:
    def __init__(self, spark, files: dict, truth: dict, tracer) -> None:
        self.spark, self.files, self.truth, self.tr = spark, files, truth, tracer
        self.n_batches = truth["batches"]
        self._expected: dict = {}

    def run(self, out_dir: str) -> RunOut:
        from etl_hero_spark import cdc, io, profile, simsearch

        tr, out, spark = self.tr, RunOut(), self.spark
        index = os.path.join(out_dir, "ivf")
        st = _Steps(out)
        # the serving state: a stored IVF index over the base vectors
        with tr.span("io", "read_parquet"):
            table = io.read_parquet(spark, self.files["base"])
            vectors = io.read_parquet(spark, self.files["index_base"])
        with tr.span("simsearch", "write_ivf_index"):
            simsearch.write_ivf_index(vectors, index, n_centroids=N_CENTROIDS)
        with tr.span("simsearch", "read_index_model"):
            model = simsearch.read_index_model(spark, index)
        # the first request after the build pays the one-off compilation of
        # the probe plan; it counts in run_s but is neither a step nor a probe
        with tr.span("io", "read_parquet"):
            first = io.read_parquet(spark, self.files["probe_0"])
        with tr.span("simsearch", "topk_cosine_ivf_indexed") as sp:
            first_ans = simsearch.topk_cosine_ivf_indexed(spark, first, index, k=K, nprobe=NPROBE).collect()
            sp.counts["results"] = len(first_ans)
        index_bytes0 = dir_bytes(index)
        st.mark()
        folded = None
        results = []
        for b in range(self.n_batches):
            version = os.path.join(out_dir, f"table_v{b}")
            with tr.span("io", "read_parquet"):
                changes = io.read_parquet(spark, self.files[f"changes_{b}"])
            with tr.span("cdc", "merge_upsert"):
                merged = cdc.merge_upsert(table, changes, "key", "ts", op_col="op")
            with tr.span("io", "write_parquet"):
                io.write_parquet(merged, version)
            with tr.span("io", "read_parquet"):
                table = io.read_parquet(spark, version)
            with tr.span("profile", "stats_snapshot"):
                snap = profile.stats_snapshot(changes, STAT_COLS)
            with tr.span("profile", "merge_stats_snapshots"):
                both = snap if folded is None else folded.unionByName(snap)
                row = profile.merge_stats_snapshots(both, STAT_COLS).collect()
                folded = spark.createDataFrame(row, snap.schema)
            with tr.span("io", "read_parquet"):
                batch = io.read_parquet(spark, self.files[f"append_{b}"])
                probe = io.read_parquet(spark, self.files[f"probe_{b}"])
            with tr.span("simsearch", "append_ivf_batch"):
                simsearch.append_ivf_batch(batch, index, model=model)
            t_probe = time.perf_counter()
            with tr.span("simsearch", "topk_cosine_ivf_indexed") as sp:
                ans = simsearch.topk_cosine_ivf_indexed(spark, probe, index, k=K, nprobe=NPROBE).collect()
                sp.counts["results"] = len(ans)
            out.probes.append(time.perf_counter() - t_probe)
            st.step()
            results.append((version, row[0], ans))
        st.done()

        out.bytes_in = sum(
            dir_bytes(self.files[f"{kind}_{b}"])
            for kind in ("changes", "append")
            for b in range(self.n_batches)
        )
        out.bytes_out = sum(dir_bytes(v) for v, _, _ in results) + dir_bytes(index) - index_bytes0
        self._check(out, first_ans, results)
        return out

    def _check(self, out, first_ans, results) -> None:
        if "first" not in self._expected:
            self._expected["first"] = oracles.brute_topk(
                [self.files["index_base"]], self.files["probe_0"], K
            )
        check_topk(out, first_ans, self._expected["first"])
        for b, (version, snap, ans) in enumerate(results):
            if b not in self._expected:
                changes = [self.files[f"changes_{i}"] for i in range(b + 1)]
                self._expected[b] = (
                    oracles.replay_merges(self.files["base"], changes, TABLE_COLS),
                    oracles.stats_recompute(changes, STAT_COLS),
                    oracles.brute_topk(
                        [self.files["index_base"]]
                        + [self.files[f"append_{i}"] for i in range(b + 1)],
                        self.files[f"probe_{b}"],
                        K,
                    ),
                )
            table_want, stats_want, brute = self._expected[b]
            got = oracles.checksum(version, TABLE_COLS)
            out.check(got == table_want, f"merged table v{b} differs from DuckDB replay")
            got_stats = {
                c: tuple(str(snap[f"{k}_{c}"]) for k in ("n", "sum", "sumsq", "min", "max"))
                for c in STAT_COLS
            }
            out.check(got_stats == stats_want, f"folded snapshot {b} differs from recompute")
            check_topk(out, ans, brute)


WORKLOADS = {
    "clean_loop": CleanLoop,
    "corpus_curate": CorpusCurate,
    "ingest_serve": IngestServe,
}
