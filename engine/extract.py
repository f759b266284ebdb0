"""The extraction operator: Arrow-batched strategy-ladder UDF.

This is the rebuild's core custom operator (SURVEY.md §2.8 "UDF
surface"): one ``mapInPandas`` kernel that evaluates the reference's
whole strategy ladder per turn — JSON-script → table → general
(``/root/reference/src/intelligent_parser.py:56-188``) — so the
short-circuit priority logic lives INSIDE the kernel where it can skip
DOM work, which a per-strategy ``when()`` column could not
(SURVEY.md §4.1).

There is ONE operator, ``extract_turns_multi``: it runs a set of
queries over the corpus in one pass, parsing each turn's DOM once and
running every query's ladder over the shared tree.  ``extract_turns``
is its one-query case with the ``query_id`` column dropped.

Scale notes:

* The NL queries are parsed ONCE on the driver and captured by the UDF
  closure (a broadcast-sized struct; SURVEY.md §3.5).
* Rows cross to Python as Arrow record batches
  (``spark.sql.execution.arrow.maxRecordsPerBatch``); all per-row work
  is plain CPU inside the batch — no per-row Python round trips.  The
  output batch is assembled column-wise: pass-through columns are the
  input batch's own Series, repeated once per query.
* Envelopes that are constant per query never cross the Arrow
  boundary: queries that cannot extract (entity-less parse crash,
  missing entity or attributes) are stamped JVM-side for every row,
  and — with ``jvm_prose_fast_path`` — so are turns with no markup at
  all (no ``<`` and no HTML entity), whose envelope is what the full
  ladder produces for element-free text (the general parser finds no
  elements → zero results, ``general_parser.py:106-113``).  At web
  scale most turns are prose.
* Without the JVM split, prose turns take the same constant envelope
  inside the kernel, skipping tokenization entirely.
* The operator is a pure row→row map: no shuffle beyond the optional
  skew salt.  Partitioning/skew policy lives in engine/pipeline.py.
"""

from __future__ import annotations

from typing import Iterator, Optional

import pandas as pd

from pyspark.sql import DataFrame

from engine import dom
from engine.kernels import constants as C
from engine.parser import TurnExtraction, extract_from_root
from engine.query_parse import parse_query_hybrid
from engine.schema import RESULTS_SCHEMA

# query_id of the one-query case (dropped from extract_turns' output)
_SINGLE_QUERY_ID = "q"


def _stringify_results(results):
    """Map values must be strings for the static MapType schema; the J5
    semantic tier can surface raw JSON scalars (ref keeps them raw,
    json_script_parser.py:468)."""
    out = []
    for record in results:
        out.append({k: (v if v is None or isinstance(v, str) else str(v))
                    for k, v in record.items()})
    return out


def extract_turns(df: DataFrame, query: str,
                  similarity_threshold: float = C.SIMILARITY_THRESHOLD,
                  matcher_factory=None,
                  jvm_prose_fast_path: bool = True,
                  salt_partitions: Optional[int] = None,
                  salt_block: int = 256) -> DataFrame:
    """Map a transcripts DataFrame to the results schema for one query:
    ``extract_turns_multi`` over ``{query}`` without the ``query_id``
    column (see there for the parameters)."""
    return extract_turns_multi(
        df, {_SINGLE_QUERY_ID: query}, similarity_threshold,
        matcher_factory=matcher_factory,
        jvm_prose_fast_path=jvm_prose_fast_path,
        salt_partitions=salt_partitions,
        salt_block=salt_block).drop("query_id")


def extract_turns_multi(df: DataFrame, queries: dict,
                        similarity_threshold: float = C.SIMILARITY_THRESHOLD,
                        matcher_factory=None,
                        jvm_prose_fast_path: bool = True,
                        salt_partitions: Optional[int] = None,
                        salt_block: int = 256) -> DataFrame:
    """Run MANY queries over the corpus in ONE pass.

    ``queries`` maps query_id → NL query string.  Input must carry
    (conv_id, turn_idx, role, text); ``ts`` rides through when present
    (event-time pass-through keeps streaming watermarks downstream of
    the kernel without a stream-stream join); other columns are dropped
    (column pruning reaches the scan because the select below is part
    of the declarative plan).  Each turn's text is tokenized and
    DOM-parsed exactly once; every query's strategy ladder then runs
    over the shared tree — at 100 TB this replaces N scans + N parses
    with one of each.  Output: one row per (turn, query_id), schema =
    leading ``query_id`` + results schema (+ ``ts`` after ``role``).

    ``jvm_prose_fast_path`` (default on): rows with no markup at all
    never cross the Arrow boundary; their per-query constant envelope
    is stamped JVM-side and unioned back.  Off, every row goes through
    ONE kernel over ONE input branch — callers that would otherwise
    rescan their input once per branch (the pipeline, streaming) pass
    False.  Queries that cannot extract are stamped JVM-side either
    way, so the kernel only ever sees extractable queries.

    ``matcher_factory`` (optional, executor-side ``() -> Matcher``)
    plugs in the semantic tiers; one matcher is built per task so its
    string-pair cache amortizes across the partition — never per row
    (SURVEY.md §4.1: do not re-encode inside the recursion).

    ``salt_partitions`` (optional) applies the skew-salting
    repartition on ``(conv_id, turn_idx div salt_block)`` INSIDE this
    operator, on the kernel's input only — so with the JVM split only
    markup rows (the CPU-heavy ones) are shuffled and prose rows flow
    scan→output with no shuffle at all.  Pre-repartitioning the input
    instead would replay the shuffle once per branch.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import (
        StringType, StructField, StructType, TimestampType,
    )

    # good: (qid, parsed) pairs for the kernel; bad: (qid, constant
    # envelope) pairs for queries that cannot extract
    good, bad = [], []
    for qid, q in sorted(queries.items()):
        try:
            parsed = parse_query_hybrid(q)
        except TypeError as exc:
            # entity-less queries raise TypeError inside the reference's
            # big try and surface as the parsing-error envelope (quirk;
            # see engine/query_parse.extract_entity)
            err = f"Parsing error: {exc}"
            bad.append((qid, TurnExtraction(None, [], 0, err, "none",
                                            "parse_error", err)))
            continue
        if parsed.entity and parsed.attributes:
            good.append((qid, parsed))
        else:
            bad.append((qid, TurnExtraction(
                parsed.entity, [], 0,
                "Could not extract entity and attributes from query",
                "none", "bad_query")))
    # the envelope the ladder gives element-free text, per good query
    prose = [TurnExtraction(p.entity, [], 0, f"Found 0 {p.entity} on this "
                            "page", "general", "no_results") for _, p in good]

    has_ts = "ts" in df.columns
    pass_cols = ["conv_id", "turn_idx", "role"] + (["ts"] if has_ts else [])
    fields = RESULTS_SCHEMA.fields
    if has_ts:
        fields = fields[:3] + [StructField("ts", TimestampType(), True)] \
            + fields[3:]
    schema = StructType([StructField("query_id", StringType(), False)]
                        + fields)
    results_type = schema["results"].dataType
    pruned = df.select(*pass_cols, "text")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        """Arrow kernel over the (row × extractable query) grid."""
        matcher = matcher_factory() if matcher_factory is not None else None
        for batch in batches:
            texts = batch["text"]
            n = len(batch)
            nbytes = [0] * n
            envs = [[None] * n for _ in good]
            for i in range(n):
                text = texts.iat[i] or ""
                nbytes[i] = len(text.encode("utf-8", errors="ignore"))
                if "<" in text or "&" in text:
                    root = dom.parse_html(text)
                    for env, (_, parsed) in zip(envs, good):
                        env[i] = extract_from_root(root, parsed,
                                                   similarity_threshold,
                                                   matcher)
                else:
                    for env, p in zip(envs, prose):
                        env[i] = p
            for (qid, _), env in zip(good, envs):
                out = {"query_id": qid}
                out.update((c, batch[c]) for c in pass_cols)
                out["entity"] = pd.Series([t.entity for t in env],
                                          dtype=object)
                out["results"] = pd.Series(
                    [_stringify_results(t.results) for t in env],
                    dtype=object)
                out["n_results"] = pd.Series([t.n_results for t in env],
                                             dtype="int32")
                for col in ("message", "strategy", "status", "error"):
                    out[col] = pd.Series([getattr(t, col) for t in env],
                                         dtype=object)
                out["text_nbytes"] = pd.Series(nbytes, dtype="int64")
                yield pd.DataFrame(out)

    def _salt(d: DataFrame) -> DataFrame:
        if salt_partitions:
            return d.repartition(
                salt_partitions, "conv_id",
                (F.col("turn_idx") / F.lit(salt_block)).cast("int"))
        return d

    def _const_rows(rows: DataFrame, entries) -> DataFrame:
        """Stamp one constant envelope per (row, (qid, envelope)) entry
        JVM-side: a literal struct array exploded over the row set —
        codegen'd projection, no Python, no shuffle."""
        arr = F.array(*[F.struct(
            F.lit(qid).alias("query_id"),
            F.lit(t.entity).cast("string").alias("entity"),
            F.lit(t.message).cast("string").alias("message"),
            F.lit(t.strategy).alias("strategy"),
            F.lit(t.status).alias("status"),
            F.lit(t.error).cast("string").alias("error"))
            for qid, t in entries])
        return (rows.select(
            *pass_cols,
            F.coalesce(F.octet_length("text"), F.lit(0)).cast("long")
             .alias("text_nbytes"),
            F.explode(arr).alias("q"))
            .select(F.col("q.query_id").alias("query_id"), *pass_cols,
                    F.col("q.entity").alias("entity"),
                    F.expr("array()").cast(results_type).alias("results"),
                    F.lit(0).cast("int").alias("n_results"),
                    F.col("q.message").alias("message"),
                    F.col("q.strategy").alias("strategy"),
                    F.col("q.status").alias("status"),
                    F.col("q.error").alias("error"),
                    "text_nbytes"))

    parts = []
    if good and not jvm_prose_fast_path:
        parts.append(_salt(pruned).mapInPandas(run, schema=schema))
    elif good:
        is_markup = (F.col("text").isNotNull()
                     & (F.col("text").contains("<")
                        | F.col("text").contains("&")))
        parts.append(_salt(pruned.filter(is_markup))
                     .mapInPandas(run, schema=schema))
        parts.append(_const_rows(pruned.filter(~is_markup),
                                 [(qid, t) for (qid, _), t
                                  in zip(good, prose)]))
    if bad:
        parts.append(_const_rows(pruned, bad))
    if not parts:
        return df.sparkSession.createDataFrame([], schema)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out
