"""The benchmark workloads: inputs, one timed unit of work, the output
check, and the traced run's per-layer probes.

Each workload calls only the engine's public functions.  Sizes are
chosen so one run of set-up, warm-up and the timed window fits the
benchmark's time budget on a 4-core host (see README.md).
"""

from __future__ import annotations

import os
import statistics
import time
from collections import Counter
from typing import Dict, List, Tuple

from perfbench import gen
from perfbench.harness import fresh_dir, tree_bytes

QUERY = gen.USER_ASK
ATTRS = ["name", "price"]
SALT_BLOCK = 256          # JobConfig default, restated for the prefix runs

# "full" is the benchmark's size; "tiny" is the self-test's
SIZES = {
    "extract_markup": {"full": {"n_conv": 4000}, "tiny": {"n_conv": 60}},
    "clean_corpus": {"full": {"n_base": 150}, "tiny": {"n_base": 60}},
}

N_BUCKETS = 16
NOOP_RESUMES = 8          # per unit: each must redo nothing; median in the report


def _median(xs: List[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def read_rows(path: str, columns: List[str]) -> List[dict]:
    """Rows of a parquet directory written by Spark, read with pyarrow
    (hive partition columns included), so checking needs no Spark job."""
    import pyarrow.dataset as ds

    return ds.dataset(path, format="parquet", partitioning="hive") \
        .to_table(columns=columns).to_pylist()


def _records(value) -> List[dict]:
    """A results cell (array of maps) as a list of dicts."""
    if value is None:
        return []
    return [m if isinstance(m, dict) else dict(m) for m in value]


def check_extraction(rows, turns: List[gen.Turn],
                     attrs: List[str]) -> Tuple[int, int, List[str]]:
    """Compare extraction output rows (conv_id, turn_idx, strategy,
    status, n_results, results, turn_seq) with the generator's ground
    truth.  Every input turn must appear exactly once with its exact
    records; an output row for no input turn is a failure of its own.
    Returns (attempted, failed, first few failure descriptions)."""
    truth = {(t.conv_id, t.turn_idx): t for t in turns}
    seen: Counter = Counter()
    bad: Dict[tuple, str] = {}
    extra = 0
    for r in rows:
        key = (r["conv_id"], int(r["turn_idx"]))
        t = truth.get(key)
        if t is None:
            extra += 1
            continue
        seen[key] += 1
        recs = _records(r["results"])
        if t.family is None:
            want = ("general", "no_results", 0, [])
        else:
            exp = gen.expected_records(t, attrs)
            want = (gen.STRATEGY_OF[t.family], "ok", len(exp), exp)
        got = (r["strategy"], r["status"], int(r["n_results"]), recs)
        if got != want:
            bad[key] = f"{key}: got {got[:3]} want {want[:3]}"
        elif int(r["turn_seq"]) != t.turn_idx + 1:
            bad[key] = f"{key}: turn_seq {r['turn_seq']}"
    for key in truth:
        if seen[key] != 1:
            bad[key] = f"{key}: {seen[key]} output rows"
    return len(truth) + extra, len(bad) + extra, list(bad.values())[:3]


def check_cleaning(rows, stage_counts: dict,
                   corpus: gen.Corpus) -> Tuple[int, int, List[str]]:
    """Compare the cleaned corpus (doc_id, text) and the job's funnel
    counts with the generator's injected copies.  Every document must
    be kept or dropped exactly as planted (kept ones with unchanged
    text); each funnel count must equal its closed form and the funnel
    must never grow."""
    text_of = {d[0]: d[1] for d in corpus.docs}
    out: Counter = Counter()
    notes, failed, extra = [], 0, 0
    texts = {}
    for r in rows:
        out[int(r["doc_id"])] += 1
        texts[int(r["doc_id"])] = r["text"]
    for doc_id, text in text_of.items():
        want = 1 if doc_id in corpus.expected_ids else 0
        if out[doc_id] != want or (want and texts[doc_id] != text):
            failed += 1
            if len(notes) < 3:
                notes.append(f"doc {doc_id}: {out[doc_id]} copies, want {want}")
    extra = sum(n for d, n in out.items() if d not in text_of)
    n = len(corpus.docs)
    funnel = [
        ("rows_in", n),
        ("after_quality_language", n - len(corpus.gated)),
        ("after_exact_dedup", n - len(corpus.gated) - len(corpus.exact_copies)),
        ("after_neardup_removal", n - len(corpus.gated)
         - len(corpus.exact_copies) - len(corpus.near_copies)),
        ("after_semantic_dedup", len(corpus.expected_ids)),
        ("rows_out", sum(out.values())),
    ]
    prev = None
    for name, want in funnel:
        got = stage_counts.get(name)
        if got != want or (prev is not None and got > prev):
            failed += 1
            notes.append(f"{name}: {got}, want {want}")
        prev = got
    return n + extra + len(funnel), failed + extra, notes[:3]


class Extraction:
    """extract_markup: the batch extraction job
    (engine.pipeline.run_extraction_job) over generated transcripts,
    one query, one commit group."""

    def __init__(self, name: str, spark, run_dir: str, seed: int, scale: str,
                 tracer):
        self.name, self.spark, self.seed, self.tracer = name, spark, seed, tracer
        self.size = SIZES[name][scale]
        self.input = os.path.join(run_dir, "input")
        self.out = os.path.join(run_dir, "out")
        self.lin = os.path.join(run_dir, "lineage")
        self.attempted = self.failed = 0
        self.notes: List[str] = []
        self.turns: List[gen.Turn] = []
        self.last: dict = {}

    @property
    def n_rows(self) -> int:
        return len(self.turns)

    def generate(self) -> None:
        self.turns = gen.markup_transcripts(self.seed, **self.size)
        gen.write_transcripts(self.turns, fresh_dir(self.input), self.seed)

    def _cfg(self, out: str, lin: str):
        from engine.pipeline import JobConfig

        return JobConfig(input_path=self.input, output_path=out,
                         lineage_path=lin, query=QUERY,
                         n_buckets=N_BUCKETS)

    def _expect(self, ok: bool, note: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.notes.append(note)

    def job(self) -> dict:
        """One timed unit on fresh output paths: the job, then
        NOOP_RESUMES no-op resumes of the finished job (a re-submission
        must redo nothing)."""
        from engine.pipeline import run_extraction_job

        fresh_dir(self.out)
        fresh_dir(self.lin)
        t0 = time.perf_counter()
        with self.tracer.span("pipeline.run_extraction_job"):
            run_extraction_job(self.spark, self._cfg(self.out, self.lin))
        job_s = time.perf_counter() - t0
        resume_s = []
        for _ in range(NOOP_RESUMES):
            t0 = time.perf_counter()
            with self.tracer.span("pipeline.noop_resume"):
                res = run_extraction_job(self.spark,
                                         self._cfg(self.out, self.lin))
            resume_s.append(time.perf_counter() - t0)
            self._expect(res["buckets_processed"] == 0 and res["resumed"],
                         f"no-op resume redid {res['buckets_processed']} buckets")
        self.last = {"job_s": job_s, "resume_s": _median(resume_s),
                     "redo_buckets": res["buckets_processed"]}
        return self.last

    def rewarm(self) -> None:
        """Start the Python workers of a fresh SparkContext: one small
        kernel pass over four partitions."""
        from engine.extract import extract_turns

        rows = [(t.conv_id, t.turn_idx, t.role, t.text) for t in self.turns[:64]]
        df = self.spark.createDataFrame(
            rows, "conv_id string, turn_idx int, role string, text string")
        extract_turns(df.repartition(4), QUERY).collect()

    def check(self) -> None:
        """Check the last unit's output and lineage."""
        cols = ["conv_id", "turn_idx", "strategy", "status", "n_results",
                "results", "turn_seq"]
        att, fail, notes = check_extraction(read_rows(self.out, cols),
                                            self.turns, ATTRS)
        self.attempted += att
        self.failed += fail
        self.notes += notes
        rows_in = sum(r["rows_in"] for r in read_rows(self.lin, ["rows_in"]))
        self._expect(rows_in == self.n_rows,
                     f"lineage rows_in {rows_in}, want {self.n_rows}")

    def out_bytes(self) -> int:
        return tree_bytes(self.out)

    # ------------------------------------------------------------- traced

    def probes(self) -> dict:
        """Per-layer probes of the traced run (the prefix split, the
        driver-side kernel replay, the strategy histogram of the last
        output, the no-op resume), each inside its own span."""
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        from engine.extract import extract_turns
        from engine.pipeline import run_extraction_job

        tr, spark = self.tracer, self.spark
        out: Dict[str, float] = {}

        rows = read_rows(self.out, ["strategy", "status"])
        strat = Counter(r["strategy"] for r in rows)
        for s in ("json_script", "table", "general", "none"):
            out[f"ladder.strategy.{s}"] = strat[s]
        out["ladder.parse_errors"] = sum(r["status"] == "parse_error"
                                         for r in rows)
        out["pipeline.out_bytes"] = self.out_bytes()
        out["pipeline.resume.redo_buckets"] = self.last["redo_buckets"]

        with tr.span("pipeline.noop_resume"):
            t0 = time.perf_counter()
            run_extraction_job(spark, self._cfg(self.out, self.lin))
            out["pipeline.noop_resume_s"] = time.perf_counter() - t0

        # prefix runs: each adds one pipeline step to the previous one
        n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
        df = spark.read.parquet(self.input).select("conv_id", "turn_idx",
                                                   "role", "text")
        salted = df.repartition(n_part, "conv_id",
                                (F.col("turn_idx") / F.lit(SALT_BLOCK)).cast("int"))
        kernel = extract_turns(df, QUERY, salt_partitions=n_part,
                               salt_block=SALT_BLOCK, jvm_prose_fast_path=False)
        windowed = kernel.withColumn(
            "bucket", F.pmod(F.xxhash64("conv_id"), F.lit(N_BUCKETS)).cast("int")
        ).withColumn("turn_seq", F.row_number().over(
            Window.partitionBy("conv_id").orderBy("turn_idx")))
        prefix_out = os.path.join(os.path.dirname(self.out), "prefix_out")

        def noop(d):
            d.write.format("noop").mode("overwrite").save()

        steps = [
            ("scan", lambda: noop(df)),
            ("salt", lambda: noop(salted)),
            ("kernel", lambda: noop(kernel)),
            ("window", lambda: noop(windowed)),
            ("write", lambda: windowed.write.mode("overwrite")
             .partitionBy("bucket").parquet(fresh_dir(prefix_out))),
            ("lineage", lambda: run_extraction_job(spark, self._cfg(
                fresh_dir(prefix_out), fresh_dir(prefix_out + "_lineage")))),
        ]
        times = {}
        for step, fn in steps:
            with tr.span(f"prefix.{step}"):
                t0 = time.perf_counter()
                fn()
                times[step] = time.perf_counter() - t0
        names = {"scan": "pipeline.scan_s", "salt": "extract.salt_exchange_s",
                 "kernel": "extract.kernel_stage_s",
                 "window": "pipeline.window_s", "write": "pipeline.write_s",
                 "lineage": "pipeline.lineage_s"}
        prev = 0.0
        for step, _ in steps:
            out[names[step]] = max(times[step] - prev, 0.0)
            prev = times[step]

        out.update(self._replay())
        return out

    def _replay(self, per_family: int = 300) -> dict:
        """Kernel µs per turn, replayed on the driver over this
        workload's own markup turns: DOM parse, then the strategy
        ladder on the parsed tree."""
        from engine import dom
        from engine.kernels import jsonld
        from engine.parser import extract_from_root
        from engine.query_parse import parse_query_hybrid

        parsed = parse_query_hybrid(QUERY)
        out = {}
        misses = 0
        with self.tracer.span("kernel.replay"):
            for fam in gen.FAMILIES:
                texts = [t.text for t in self.turns if t.family == fam][:per_family]
                parse_us, ladder_us = [], []
                for text in texts:
                    t0 = time.perf_counter()
                    root = dom.parse_html(text)
                    t1 = time.perf_counter()
                    te = extract_from_root(root, parsed)
                    t2 = time.perf_counter()
                    parse_us.append((t1 - t0) * 1e6)
                    ladder_us.append((t2 - t1) * 1e6)
                    if te.strategy != "json_script" and jsonld.has_json_scripts(root):
                        misses += 1
                out[f"dom.parse_us.{fam}"] = _median(parse_us)
                out[f"ladder.us.{fam}"] = _median(ladder_us)
        out["ladder.json_gate_miss"] = misses
        return out


class Cleaning:
    """clean_corpus: engine.cleaning.run_cleaning_job over a generated
    document table (clusters policy, hashed-embedding semantic dedup)."""

    def __init__(self, name: str, spark, run_dir: str, seed: int, scale: str,
                 tracer):
        self.name, self.spark, self.seed, self.tracer = name, spark, seed, tracer
        self.size = SIZES[name][scale]
        self.input = os.path.join(run_dir, "input")
        self.out = os.path.join(run_dir, "out")
        self.attempted = self.failed = 0
        self.notes: List[str] = []
        self.corpus = None
        self.last: dict = {}

    @property
    def n_rows(self) -> int:
        return len(self.corpus.docs)

    def generate(self) -> None:
        self.corpus = gen.documents(self.seed, **self.size)
        gen.write_documents(self.corpus, fresh_dir(self.input))

    def job(self) -> dict:
        """One cleaning job on a fresh output path."""
        from engine.cleaning import run_cleaning_job

        fresh_dir(self.out)
        t0 = time.perf_counter()
        with self.tracer.span("cleaning.run_cleaning_job"):
            m = run_cleaning_job(self.spark, self.input, self.out,
                                 neardup_policy="clusters",
                                 semantic_hashed=True)
        dt = time.perf_counter() - t0
        self.last = {"job_s": dt, "stage_counts": m}
        return self.last

    def rewarm(self) -> None:
        """The cleaning job runs no Python workers: nothing to start."""

    def check(self) -> None:
        att, fail, notes = check_cleaning(
            read_rows(self.out, ["doc_id", "text"]),
            self.last["stage_counts"], self.corpus)
        self.attempted += att
        self.failed += fail
        self.notes += notes

    def out_bytes(self) -> int:
        return tree_bytes(self.out)

    def probes(self) -> dict:
        """Stage split: each engine.cleaning stage function timed on its
        predecessor's materialized output, plus the pair counts of the
        two candidate generators."""
        from engine import cleaning
        from engine.analytics import doc_hashed_embeddings, semdedup_pairs
        from pyspark.sql import functions as F

        tr, spark = self.tracer, self.spark
        docs = spark.read.parquet(self.input)

        def mat(df):
            df = df.persist()
            df.count()
            return df

        out: Dict[str, float] = {}

        def stage(name, fn):
            with tr.span(f"cleaning.{name}"):
                t0 = time.perf_counter()
                res = fn()
                out[f"cleaning.{name}_s"] = time.perf_counter() - t0
            return res

        gated = stage("gate", lambda: mat(cleaning.quality_language_gate(docs)))
        exact = stage("exact_dedup", lambda: mat(cleaning.exact_dedup(gated)))
        survivors = stage("neardup", lambda: mat(cleaning.neardup_removal(
            exact, policy="clusters")))
        with tr.span("cleaning.neardup_pairs"):
            out["cleaning.neardup.pairs"] = cleaning.neardup_pairs(exact).count()
        emb = doc_hashed_embeddings(docs)
        final = stage("semantic", lambda: mat(cleaning.semantic_dedup_removal(
            survivors, emb, policy="clusters")))
        with tr.span("cleaning.semantic_pairs"):
            alive = emb.join(survivors.select(F.col("doc_id").alias("vec_id")),
                             "vec_id", "left_semi")
            out["cleaning.semantic.pairs"] = semdedup_pairs(alive).count()
        stage("pii", lambda: cleaning.pii_scrub_text(final).write
              .format("noop").mode("overwrite").save())
        spark.catalog.clearCache()
        return out


WORKLOADS = {
    "extract_markup": Extraction,
    "clean_corpus": Cleaning,
}
