"""The four benchmark workloads.

Each workload generates its inputs in ``setup`` (seeded, written to
disk), runs one pass through the library's public functions in
``run_pass`` (timed; every call goes through ``Tracer.call`` so spans and
job windows line up with layers), and compares a pass's results with the
injected ground truth in ``check`` (untimed). ``check`` returns one
message per failed check.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow.parquet as pq

import inputs

# Sizes keep a warm pass at a few seconds at local[2] on a 4-core host: at
# these sizes the per-job floor, not data volume, sets most of a pass.
TABLE_ROWS = 80_000
SESSION_ROWS = 20_000
CORPUS_DOCS = 1_000
EMBED_ROWS = 2_000
EMBED_DIM = 16
EMBED_QUERIES = 20
TOPK = 10
EVENTS = 20_000
EVENT_USERS = 400
FUNNEL = ["view", "click", "purchase"]
DEDUP_RECALL_FLOOR = 0.9


def _rows(rows) -> set:
    return {tuple(r) for r in rows}


def _collect(df):
    return df.collect()


class Workload:
    name = ""

    def __init__(self, root: str, out_dir: str):
        self.root = root  # scratch space
        self.out_dir = out_dir  # written bytes here count toward write_amp
        self.input_bytes = 0
        self.spark = None  # the session the timed passes run in

    def setup(self, spark, rng: np.random.Generator, in_dir: str) -> None:
        raise NotImplementedError

    def before_pass(self, i: int) -> None:
        """Untimed per-pass preparation."""

    def run_pass(self, t, i: int):
        raise NotImplementedError

    def check(self, spark, result, full: bool) -> list[str]:
        raise NotImplementedError

    def extra_metrics(self, result) -> dict[str, float]:
        return {}


# ---------------------------------------------------------------------------
# clean_table / clean_session: profile -> detect -> remediate -> score -> io
# ---------------------------------------------------------------------------

# one remediation per click, in the order a user works down the missions
# list; each entry removes the mission keys listed with it
REMEDIATIONS = [
    ("impute price median", "impute", ("price", "median"), [("missing", "price")]),
    ("impute quantity mean", "impute", ("quantity", "mean"), [("missing", "quantity")]),
    ("impute category mode", "impute", ("category", "mode"), [("missing", "category")]),
    ("replace outliers price", "replace_outliers", ("price", "median"), [("outliers", "price")]),
    ("clip outliers price", "clip_outliers", ("price",), []),
    ("drop duplicate rows", "drop_duplicate_rows", (), [("duplicates", "*")]),
    ("normalize dates", "normalize_dates", ("date",), [("date_mixed", "date")]),
]

# one eager-statistics fix, one broadcast-stats fix, one lazy rewrite
SESSION_CLICKS = [REMEDIATIONS[i] for i in (0, 3, 6)]


def _expected_after(counts: dict, applied: list) -> tuple[dict, float]:
    """Missions and quality score after the ``applied`` remediations."""
    missions = inputs.expected_missions(counts)
    for *_, gone in applied:
        for key in gone:
            missions.pop(key)
    if any(fn == "normalize_dates" for _, fn, *_ in applied):
        missions[("missing", "date")] = counts["malformed_dates"]
    nulls = lambda m: sum(v for (kind, _), v in m.items() if kind == "missing")  # noqa: E731
    before = inputs.expected_missions(counts)
    dups = lambda m: m.get(("duplicates", "*"), 0)  # noqa: E731
    raw = 50.0 + 0.5 * max(0, nulls(before) - nulls(missions)) + max(0, dups(before) - dups(missions))
    return missions, round(max(0.0, min(100.0, raw)), 2)


def _missions(rows) -> dict:
    return {(r["mission"], r["column"]): r["metric"] for r in rows}


def _remediate(t, df, remediation):
    from etl_hero_spark import clean

    _, fn, args, _ = remediation
    return t.call("clean", getattr(clean, fn), df, *args)


def _check_profile(rows, counts: dict) -> list[str]:
    """profile_table reports the injected NULLs per column."""
    nulls = {r["column"]: r["n_null"] for r in rows}
    want = {"order_id": 0, "date": 0, "price": counts["null_price"],
            "quantity": counts["null_quantity"], "category": counts["null_category"]}
    return [] if nulls == want else [f"profile nulls {nulls} != {want}"]


def _check_output(spark, path: str, counts: dict, n_rows: int, applied: list) -> list[str]:
    """The exported table has exactly the duplicates the ``applied``
    remediations drop, no NULLs left in the imputed columns, and NULL
    dates exactly where dates were malformed once dates are normalized."""
    from pyspark.sql import functions as F

    imputed = [args[0] for _, fn, args, _ in applied if fn == "impute"]
    fns = {fn for _, fn, *_ in applied}
    want_rows = n_rows + (0 if "drop_duplicate_rows" in fns else counts["duplicate_rows"])
    want_dates = counts["malformed_dates"] if "normalize_dates" in fns else 0
    df = spark.read.parquet(path)
    r = df.agg(
        F.count(F.lit(1)).alias("rows"),
        *[F.count_if(F.col(c).isNull()).alias(c) for c in [*imputed, "date"]],
    ).first()
    fails = []
    if r["rows"] != want_rows:
        fails.append(f"output rows {r['rows']} != {want_rows}")
    if any(r[c] for c in imputed):
        fails.append(f"NULLs left in imputed columns {imputed}")
    if r["date"] != want_dates:
        fails.append(f"NULL dates {r['date']} != {want_dates}")
    return fails


class CleanTable(Workload):
    name = "clean_table"

    def setup(self, spark, rng, in_dir):
        table, self.counts = inputs.make_table(rng, TABLE_ROWS)
        self.src = os.path.join(in_dir, "table")
        self.input_bytes = inputs.write_parts(table, self.src, 4)

    def before_pass(self, i):
        # each pass reads a snapshot no earlier pass has read
        self.snap = os.path.join(self.root, f"snap{i}")
        shutil.copytree(self.src, self.snap)

    def run_pass(self, t, i):
        from etl_hero_spark import io
        from etl_hero_spark.detect import detect_missions
        from etl_hero_spark.profile import profile_table
        from etl_hero_spark.score import quality_score

        with t.span("step.profile"):
            df = t.call("io", io.read_parquet, self.spark, self.snap)
            prof = t.call("profile", profile_table, df, finish=_collect)
        with t.span("step.detect"):
            missions = t.call("detect", detect_missions, df, finish=_collect)
        with t.span("step.remediate"):
            out = df
            for r in REMEDIATIONS:
                out = _remediate(t, out, r)
        with t.span("step.score"):
            score = t.call("score", quality_score, df, out)
        self.out_path = os.path.join(self.out_dir, f"pass{i}")
        with t.span("step.export"):
            t.call("io", io.write_parquet, out, self.out_path)
        return {"profile": prof, "missions": missions, "score": score}

    def check(self, spark, result, full):
        fails = _check_profile(result["profile"], self.counts)
        got = _missions(result["missions"])
        if got != inputs.expected_missions(self.counts):
            fails.append(f"missions {got} != injected {inputs.expected_missions(self.counts)}")
        _, score = _expected_after(self.counts, REMEDIATIONS)
        if result["score"] != score:
            fails.append(f"quality score {result['score']} != {score}")
        if full:
            fails += _check_output(spark, self.out_path, self.counts, TABLE_ROWS, REMEDIATIONS)
        shutil.rmtree(self.snap, ignore_errors=True)
        return fails


class CleanSession(Workload):
    """One pass opens the table (load, profile), then clicks through a
    fresh Pipeline: every click records one remediation, replays the
    pipeline, re-detects and re-scores, as the app does when it redraws.
    The cleaned table is exported after the last click."""

    name = "clean_session"

    def setup(self, spark, rng, in_dir):
        table, self.counts = inputs.make_table(rng, SESSION_ROWS)
        self.src = os.path.join(in_dir, "table")
        self.input_bytes = inputs.write_parts(table, self.src, 2)

    def run_pass(self, t, i):
        from etl_hero_spark import io
        from etl_hero_spark.detect import detect_missions
        from etl_hero_spark.pipeline import Pipeline
        from etl_hero_spark.profile import profile_table
        from etl_hero_spark.score import quality_score_df

        # open: load and profile, as the app does on upload
        orig = t.call("io", io.read_parquet, self.spark, self.src)
        prof = t.call("profile", profile_table, orig, finish=_collect)
        pipe = Pipeline(orig)
        seen = []
        for r in SESSION_CLICKS:
            with t.span("step.click"):
                t.call("pipeline", pipe.apply, r[0], lambda df, r=r: _remediate(t, df, r))
                cur = t.call("pipeline", Pipeline.current.fget, pipe)
                missions = t.call("detect", detect_missions, cur, finish=_collect)
                score = t.call("score", quality_score_df, orig, cur, finish=lambda d: d.first())
            seen.append((missions, score["quality_score"]))
        self.out_path = os.path.join(self.out_dir, f"pass{i}")
        t.call("io", io.write_parquet, cur, self.out_path)
        return {"profile": prof, "clicks": seen}

    def check(self, spark, result, full):
        fails = _check_profile(result["profile"], self.counts)
        for k, (missions, score) in enumerate(result["clicks"], start=1):
            want, want_score = _expected_after(self.counts, SESSION_CLICKS[:k])
            if _missions(missions) != want:
                fails.append(f"click {k}: missions {_missions(missions)} != {want}")
            if score != want_score:
                fails.append(f"click {k}: quality score {score} != {want_score}")
        if full:
            fails += _check_output(spark, self.out_path, self.counts, SESSION_ROWS, SESSION_CLICKS)
        return fails


# ---------------------------------------------------------------------------
# curate_corpus: textops -> dedup -> checkpoint -> simsearch -> io
# ---------------------------------------------------------------------------


class CurateCorpus(Workload):
    name = "curate_corpus"

    def setup(self, spark, rng, in_dir):
        docs, self.truth = inputs.make_corpus(rng, CORPUS_DOCS)
        corpus, queries, self.nearest = inputs.make_embeddings(rng, EMBED_ROWS, EMBED_DIM, EMBED_QUERIES)
        self.docs = os.path.join(in_dir, "docs")
        self.emb = os.path.join(in_dir, "embeddings.parquet")
        self.queries = os.path.join(in_dir, "queries.parquet")
        self.input_bytes = inputs.write_parts(docs, self.docs, 2)
        pq.write_table(corpus, self.emb)
        pq.write_table(queries, self.queries)
        self.input_bytes += os.path.getsize(self.emb) + os.path.getsize(self.queries)
        self.survivors = set(range(1, self.truth["docs"] + 1)) - self.truth["removed_ids"]

    def run_pass(self, t, i):
        from pyspark.sql import functions as F

        from etl_hero_spark import io
        from etl_hero_spark.checkpoint import parquet_checkpoint
        from etl_hero_spark.dedup import assign_dedup_clusters, dedup_exact_content, minhash_lsh_pairs
        from etl_hero_spark.simsearch import topk_cosine, topk_cosine_ivf
        from etl_hero_spark.textops import gopher_filter

        # three steps of distinct cost (curate > ANN > exact search), so the
        # step median and p90 each fall inside one kind of step
        with t.span("step.curate"):
            docs = t.call("io", io.read_parquet, self.spark, self.docs)
            good = t.call("textops", gopher_filter, docs)
            uniq = t.call("dedup", dedup_exact_content, good)
            staged = t.call("checkpoint", parquet_checkpoint, uniq, "curated")
            pairs = t.call(
                "dedup", minhash_lsh_pairs, staged,
                finish=lambda p: t.call("checkpoint", parquet_checkpoint, p, "lsh_pairs"),
            )
            pair_rows = t.call("checkpoint", pairs.collect)
            clusters = t.call("dedup", assign_dedup_clusters, staged, pairs)
            curated = clusters.filter(F.col("is_canonical") == 1).select("doc_id", "text")
            self.out_path = os.path.join(self.out_dir, f"pass{i}")
            t.call("io", io.write_parquet, curated, self.out_path)
        with t.span("step.search_exact"):
            corpus = t.call("io", io.read_parquet, self.spark, self.emb)
            queries = t.call("io", io.read_parquet, self.spark, self.queries)
            exact = t.call("simsearch", topk_cosine, corpus, queries, k=TOPK, finish=_collect)
        with t.span("step.search_ann"):
            approx = t.call("simsearch", topk_cosine_ivf, corpus, queries, k=TOPK, finish=_collect)
        return {"staged": staged, "pairs": pair_rows, "exact": exact, "approx": approx}

    def _pair_scores(self, result) -> tuple[int, float, float]:
        found = {(r["id_a"], r["id_b"]) for r in result["pairs"]}
        truth = set(self.truth["near_dup_pairs"])
        hit = len(found & truth)
        return len(found), hit / max(1, len(found)), hit / len(truth)

    def _recall_at_k(self, result) -> float:
        exact = {(r["query_id"], r["corpus_id"]) for r in result["exact"]}
        approx = {(r["query_id"], r["corpus_id"]) for r in result["approx"]}
        return len(exact & approx) / max(1, len(exact))

    def extra_metrics(self, result):
        n, precision, recall = self._pair_scores(result)
        return {
            "dedup.candidate_pairs": float(n),
            "dedup.pair_precision": precision,
            "dedup.recall": recall,
            "simsearch.recall_at_k": self._recall_at_k(result),
        }

    def check(self, spark, result, full):
        fails = []
        kept = {r["doc_id"] for r in result["staged"].select("doc_id").collect()}
        if kept != self.survivors:
            fails.append(
                f"gopher+exact dedup kept {len(kept)} docs, want {len(self.survivors)} "
                "(low-quality docs and exact copies removed)"
            )
        n, _, recall = self._pair_scores(result)
        if recall < DEDUP_RECALL_FLOOR:
            fails.append(f"near-dup recall {recall:.3f} < {DEDUP_RECALL_FLOOR}")
        top1 = {r["query_id"]: r["corpus_id"] for r in result["exact"] if r["rank"] == 1}
        if top1 != self.nearest:
            fails.append("exact topk_cosine missed a known nearest neighbour")
        if full:
            written = spark.read.parquet(self.out_path).count()
            if written != len(kept) - n:
                fails.append(f"curated corpus has {written} docs, want {len(kept) - n}")
        return fails


# ---------------------------------------------------------------------------
# stream_drain: the streaming layer's state stores and Python-worker boundary
# ---------------------------------------------------------------------------


class StreamDrain(Workload):
    name = "stream_drain"

    def setup(self, spark, rng, in_dir):
        os.makedirs(in_dir, exist_ok=True)
        self.events = os.path.join(in_dir, "events.parquet")
        pq.write_table(inputs.make_events(rng, EVENTS, EVENT_USERS), self.events)
        self.input_bytes = os.path.getsize(self.events)
        # query checkpoints (offsets, commits, state stores) land here, so
        # their writes are measured; cleared before every pass
        self.stream_ckpt = os.path.join(self.out_dir, "stream_ckpt")
        spark.conf.set("spark.sql.streaming.checkpointLocation", self.stream_ckpt)
        self.twins = None

    def before_pass(self, i):
        shutil.rmtree(self.stream_ckpt, ignore_errors=True)

    def run_pass(self, t, i):
        from etl_hero_spark.streaming import (
            stream_dedup,
            stream_funnel_counts,
            stream_tumbling_agg,
            stream_user_gap_stats,
        )

        path, spark = self.events, self.spark
        ops = {
            "tumbling": (stream_tumbling_agg, ()),
            "dedup": (stream_dedup, ()),
            "gaps": (stream_user_gap_stats, ()),
            "funnel": (stream_funnel_counts, (FUNNEL,)),
        }
        out = {}
        for sink, (fn, extra) in ops.items():
            with t.span(f"step.{sink}"):
                out[sink] = t.call("streaming", fn, spark, path, *extra, finish=_collect)
        return out

    def _batch_twins(self, spark) -> dict:
        from pyspark.sql import functions as F

        from etl_hero_spark.streaming import funnel_counts, tumbling_agg, user_gap_stats_batch

        ev = spark.read.parquet(self.events)
        distinct = ev.dropDuplicates(["event_id"]).select(
            "event_id", "user_id", F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_s"),
            "event_type", "value",
        )
        return {
            "tumbling": _rows(tumbling_agg(ev).collect()),
            "dedup": _rows(distinct.collect()),
            "gaps": _rows(user_gap_stats_batch(ev).collect()),
            "funnel": _rows(funnel_counts(ev, FUNNEL).collect()),
        }

    def check(self, spark, result, full):
        if self.twins is None:
            self.twins = self._batch_twins(spark)
        fails = []
        for sink, want in self.twins.items():
            got = _rows(result[sink])
            if not got:
                fails.append(f"{sink}: drained sink is empty")
            elif got != want:
                fails.append(f"{sink}: {len(got)} streamed rows differ from {len(want)} batch rows")
        return fails


WORKLOADS = {w.name: w for w in (CleanTable, CleanSession, CurateCorpus, StreamDrain)}
