"""Structured Streaming realizations of the engine's operators.

The reference is batch-only (SURVEY.md §2.9: files -> files, no streaming
state), and the north rule's resumability is Iceberg-checkpoint based — but
the pipeline is embarrassingly per-row, so it ports to streams without
operator changes: ``readStream`` on the same source, the same enrichment /
rule / scrub plan, ``writeStream`` with a checkpoint dir. These jobs exist to
prove that property end-to-end (tests drive them with Trigger.availableNow on
the driver testdata, the bounded-backfill trigger that replays a directory to
completion and stops — the same code then runs unbounded on a live landing
directory at cluster scale).

Scale notes:
- the per-batch work is identical to the batch plan, so all batch-side sizing
  (partitioning, Arrow batch bounds, broadcast models) carries over;
- the stateful jobs (streaming_near_dup, streaming_bloom_dedup) carry
  bounded per-shard state across micro-batches via applyInPandasWithState.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

DOCUMENTS_SCHEMA = (
    "doc_id bigint, text string, lang string, source string, n_chars bigint"
)

# simhash geometry shared with the batch pipeline — importing the constants
# keeps streaming==batch parity intact when they are tuned
from language_identification_spark.queries import (  # noqa: E402
    SIMHASH_BAND_BITS,
    SIMHASH_BANDS,
    SIMHASH_BITS,
)


def streaming_pages_filter(
    spark: SparkSession,
    source_dir: str,
    model,
    config=None,
    kn_models: dict | None = None,
) -> DataFrame:
    """The full quality-filter plan applied to a stream of page files — the
    SAME quality_filter_plan call as batch (stateless per-row, so the plan is
    stream-safe as-is)."""
    from language_identification_spark.fixtures import PAGES_SCHEMA
    from language_identification_spark.plans.pipeline import quality_filter_plan

    pages = (
        spark.readStream.schema(PAGES_SCHEMA).format("parquet").load(source_dir)
    )
    return quality_filter_plan(pages, model, config=config, kn_models=kn_models)


def streaming_docs_c4(spark: SparkSession, source_dir: str) -> DataFrame:
    """C4 line-level cleaning on a stream of document files — the operator
    is a ZERO-exchange narrow map (operators/c4.py), so it is stream-safe
    verbatim: no state, no watermark, per-batch plan identical to batch
    (parity pinned in tests/test_streaming_sources.py)."""
    from language_identification_spark.operators.c4 import c4_line_filter

    docs = (
        spark.readStream.schema(DOCUMENTS_SCHEMA)
        .format("parquet")
        .load(source_dir)
    )
    return c4_line_filter(docs)


def simhash60(text: str | None) -> int | None:
    """60-bit word-vote simhash, value-identical to the batch q_simhash
    expression pipeline (split on SINGLE SPACES exactly like the batch
    F.split(text, ' ') — .split() with no argument would split on
    tabs/newlines too and fingerprint differently; md5 first-15-hex per
    word, per-bit +-1 votes, sign sets the bit) — computed per ROW in
    Python so it works on a stream without a per-doc aggregation. Returns
    None for wordless text: the batch pipeline emits NO row for such docs
    (zero exploded words), so the stream must drop them too — otherwise
    every empty doc would share fingerprint 0 and pair quadratically.
    Tested equal to the batch values incl. tab/newline/empty cases."""
    import hashlib

    words = [w for w in (text or "").split(" ") if w]
    if not words:
        return None
    votes = [0] * SIMHASH_BITS
    for word in words:
        h = int(hashlib.md5(word.encode()).hexdigest()[: SIMHASH_BITS // 4], 16)
        for b in range(SIMHASH_BITS):
            votes[b] += 1 if (h >> b) & 1 else -1
    out = 0
    for b in range(SIMHASH_BITS):
        if votes[b] > 0:
            out |= 1 << b
    return out


def streaming_near_dup(
    spark: SparkSession,
    source_dir: str,
    max_bucket_state: int = 256,
    hamming_max: int = 3,
) -> DataFrame:
    """Streaming NEAR-dup detection: the simhash banding pipeline as a
    stateful stream — every arriving document is checked against all
    previously seen documents that share a 15-bit band of its 60-bit
    simhash, and matches within ``hamming_max`` are emitted as
    (doc_id, dup_of, hamming) rows.

    Shape: per-row simhash (Arrow UDF) -> explode the band keys ->
    groupBy(band, sig).applyInPandasWithState — state per bucket is the
    [(doc_id, simhash), ...] list of members, capped at
    ``max_bucket_state`` (the streaming form of the stop-shingle bucket
    cap: a degenerate bucket stops accumulating comparisons instead of
    growing O(n^2)). BELOW the cap, batch boundaries do not change which
    pairs are found (within a micro-batch rows process in doc_id order;
    tested equal to the batch candidate set); ONCE A BUCKET CAPS, later
    arrivals still compare against the retained members but are not
    retained themselves, so which pairs among the overflow are found
    depends on arrival order — the documented recall tradeoff."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql.types import LongType

    docs = (
        spark.readStream.schema(DOCUMENTS_SCHEMA)
        .format("parquet")
        .load(source_dir)
    )

    def _simhash_fn(series):
        return series.map(simhash60)

    _simhash_fn.__annotations__ = {"series": pd.Series, "return": pd.Series}
    _simhash = F.pandas_udf(_simhash_fn, LongType())

    banded = (
        docs.select("doc_id", _simhash(F.col("text")).alias("simhash"))
        .filter(F.col("simhash").isNotNull())  # wordless docs: batch parity
        .select(
            "doc_id",
            "simhash",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(k).alias("band"),
                            F.shiftright(
                                F.col("simhash"), k * SIMHASH_BAND_BITS
                            )
                            .bitwiseAND(F.lit((1 << SIMHASH_BAND_BITS) - 1))
                            .alias("sig"),
                        )
                        for k in range(SIMHASH_BANDS)
                    ]
                )
            ).alias("bs"),
        )
        .select("doc_id", "simhash", "bs.band", "bs.sig")
    )

    out_schema = "doc_id bigint, dup_of bigint, hamming int"
    state_schema = "members array<struct<doc_id: bigint, simhash: bigint>>"

    def update(key, pdfs, state):
        members: list[tuple[int, int]] = (
            [tuple(m) for m in state.get[0]] if state.exists else []
        )
        rows = []
        for pdf in pdfs:
            pdf = pdf.sort_values("doc_id")
            for doc_id, simhash in zip(pdf["doc_id"], pdf["simhash"]):
                doc_id, simhash = int(doc_id), int(simhash)
                for m_id, m_hash in members:
                    d = bin(simhash ^ m_hash).count("1")
                    if d <= hamming_max:
                        rows.append((doc_id, m_id, d))
                if len(members) < max_bucket_state:
                    members.append((doc_id, simhash))
        state.update(([list(m) for m in members],))
        yield pd.DataFrame(rows, columns=["doc_id", "dup_of", "hamming"])

    return banded.groupBy("band", "sig").applyInPandasWithState(
        update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def bloom_positions(key: str) -> tuple[int, list[int]]:
    """Python twin of operators/bloomdedup._positions — same md5-slice
    addressing (hex[0:4] -> shard, hex[4+6i:10+6i] -> k bit positions), so
    stream state and batch filter are interchangeable. Tested equal to the
    batch expression (tests/test_bloom_streaming.py)."""
    import hashlib

    from language_identification_spark.operators.bloomdedup import (
        K_HASHES,
        M_BITS,
        N_SHARDS,
    )

    h = hashlib.md5(key.encode()).hexdigest()
    shard = int(h[0:4], 16) % N_SHARDS
    return shard, [
        int(h[4 + 6 * i : 10 + 6 * i], 16) % M_BITS for i in range(K_HASHES)
    ]


def streaming_bloom_dedup(spark: SparkSession, source_dir: str) -> DataFrame:
    """Streaming first-occurrence dedup with BOUNDED state — the Bloom
    filter of operators/bloomdedup.py run as a stateful stream: every
    arriving document's content hash is checked against the bits set by
    all earlier arrivals and then inserted. Emits (doc_id, maybe_dup);
    maybe_dup=false is a guaranteed first occurrence, maybe_dup=true is
    "seen before" up to the classical false-positive rate.

    Contrast dropDuplicatesWithinWatermark: that
    operator keys state by the VALUE, so state grows with distinct keys in
    the horizon; here state per shard is a fixed ceil(m/32)-word bit array
    — total state is n_shards x m bits FOREVER, the only streaming dedup
    shape that survives an unbounded 10^12-key stream. The price is the
    FPR (and no within-watermark exactness), so maybe_dup rows route to an
    exact confirm exactly like the batch operator's contract.

    Determinism: rows process in doc_id order within each micro-batch, so
    a bounded replay (availableNow) yields the same verdict set as the
    batch sequential oracle regardless of partitioning."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    from language_identification_spark.operators.bloomdedup import (
        M_BITS,
        WORD_BITS,
    )

    n_words = (M_BITS + WORD_BITS - 1) // WORD_BITS

    docs = (
        spark.readStream.schema(DOCUMENTS_SCHEMA)
        .format("parquet")
        .load(source_dir)
    )
    keyed = docs.filter(F.col("text").isNotNull()).select(
        "doc_id", F.md5(F.col("text").cast("binary")).alias("key")
    )
    sharded = keyed.withColumn(
        "shard",
        (
            F.conv(F.substring(F.md5(F.col("key").cast("binary")), 1, 4), 16, 10)
            .cast("bigint")
            % F.lit(8)
        ).cast("int"),
    )

    out_schema = "doc_id bigint, maybe_dup boolean"
    state_schema = "words array<bigint>"

    def update(key, pdfs, state):
        words = list(state.get[0]) if state.exists else [0] * n_words
        rows = []
        # one global sort across ALL chunks of the micro-batch (per-chunk
        # sorting would leave chunk boundaries arrival-order dependent)
        pdf = pd.concat(list(pdfs)).sort_values("doc_id")
        for doc_id, k in zip(pdf["doc_id"], pdf["key"]):
            _shard, poss = bloom_positions(str(k))
            hit = all(
                words[p // WORD_BITS] >> (p % WORD_BITS) & 1 for p in poss
            )
            for p in poss:
                words[p // WORD_BITS] |= 1 << (p % WORD_BITS)
            rows.append((int(doc_id), bool(hit)))
        state.update((words,))
        yield pd.DataFrame(rows, columns=["doc_id", "maybe_dup"])

    return sharded.groupBy("shard").applyInPandasWithState(
        update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def run_stream_once(
    df: DataFrame,
    checkpoint_dir: str,
    query_name: str = "stream",
    mode: str | None = None,
) -> DataFrame:
    """Drain all currently-available input (Trigger.availableNow) into an
    in-memory sink and return the result as a DataFrame.

    Output mode (overridable via ``mode``): update for
    applyInPandasWithState plans (their operator declares update mode and a
    start in any other mode fails), append for stateless plans."""
    spark = df.sparkSession
    if mode is None:
        plan = df._jdf.queryExecution().analyzed().toString()
        mode = "update" if "FlatMapGroupsInPandasWithState" in plan else "append"
    q = (
        df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(mode)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(query_name)
