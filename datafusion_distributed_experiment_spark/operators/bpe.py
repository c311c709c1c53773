"""Distributed BPE tokenizer training: the pair-merge iteration as dataflow.

Byte-pair-encoding training (Sennrich et al. 2016, "Neural Machine
Translation of Rare Words with Subword Units" — the algorithm behind GPT/
Llama tokenizers) is usually presented as a single-machine loop over a
word-frequency dictionary. The dataflow form: collapse the corpus to its
(word, freq) dictionary — the ONE corpus-sized shuffle — then each merge
iteration is (a) an adjacent-pair count weighted by word frequency, (b) an
argmax over the pair table, (c) a left-to-right greedy merge applied to
every word's token sequence. Steps (a) and (c) are vocabulary-sized
map/window work; (b) reduces to one row. At 100 TB the corpus aggregation
dominates and everything downstream runs on the vocabulary table (millions
of rows, not billions) — which is exactly why tokenizer training is
tractable at all.

The subtle part is (c): BPE's merge is GREEDY left-to-right, so in a run of
overlapping matches ("aaa" under pair (a,a)) only every other position
merges. Relationally: match positions per word -> gaps-and-islands to find
maximal runs -> keep positions at EVEN offsets within their run. Both
engines run the identical window chain, so the learned merges and the
resulting tokenization match bit-for-bit.

Reference analog: the extension-operator mechanism
(tests/custom_extension_codec.rs:160-264). MERGE_ITERS is fixed (2) so the
DuckDB oracle is the same dataflow unrolled as CTEs — the
kmeans_lloyd_t3 / pagerank_nations pattern for iterative algorithms.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.text import DUCK_POLY_HASH, DUCK_TOKENS, poly_hash, tokens
from .dedup import MOD, SHINGLE_MULT

MERGE_ITERS = 2


def _vocab_chars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(word, freq, pos, tok) — every vocabulary word exploded to single
    characters. The corpus collapses to (word, freq) first, so the exploded
    table is vocabulary-sized, never corpus-sized."""
    from ..sources.tables import rebalance_narrow_scan

    path = f"{sf_dir}/documents.parquet"
    docs = rebalance_narrow_scan(
        spark.read.parquet(path).select("text"), path
    )
    vocab = (
        docs.select(F.explode(tokens(F.col("text"))).alias("word"))
        .groupBy("word")
        .agg(F.count("*").cast("long").alias("freq"))
    )
    return vocab.select(
        "word",
        "freq",
        # CODEPOINT split via regexp_extract_all('(?s).') — Java regex '.'
        # matches one code point, so a surrogate pair stays one element,
        # exactly like the oracle's string_split(word, '') (round-12
        # review: the previous split("(?!$)") broke astral characters
        # into two lone surrogates — different position tables and pair
        # counts vs DuckDB); also emits no trailing "" on any Spark
        F.posexplode(F.regexp_extract_all("word", F.lit(r"(?s)."), 0)).alias("pos", "tok"),
    ).select("word", "freq", F.col("pos").cast("long").alias("pos"), "tok")


def _merge_round(chars: DataFrame) -> DataFrame:
    """One BPE iteration over (word, freq, pos, tok): count pairs, pick the
    winner, apply the greedy merge, re-compact positions.

    Precondition: the vocabulary contains at least one 2+-character word
    (else there is no pair to merge and the round degenerates — impossible
    on a real corpus).

    Greedy left-to-right without a self-join: positions are dense per word,
    so a maximal run of overlapping matches is a run of consecutive rows
    with ``match`` set, and the classic islands windows find run starts and
    offsets in one pass — a matched position merges iff its offset within
    its run is even, and the row after a merged position is the consumed
    right half.

    A round with NO adjacent pair anywhere (every word already a single
    token — reachable on tiny vocabularies before MERGE_ITERS runs out) is
    a NO-OP, as in standard BPE early stopping: the 1-row argmax is joined
    LEFT on a constant key, so an empty winner leaves every token
    unmatched instead of emptying the vocabulary through a cross join
    (hypothesis-caught on the corpus [['aa']]; the DuckDB oracle chain
    no-ops the same way)."""
    wp = Window.partitionBy("word").orderBy("pos")
    wcum = wp.rowsBetween(Window.unboundedPreceding, 0)
    paired = chars.withColumn("nxt", F.lead("tok").over(wp))
    top = F.broadcast(
        paired.filter(F.col("nxt").isNotNull())
        .groupBy(F.col("tok").alias("x"), F.col("nxt").alias("y"))
        .agg(F.sum("freq").alias("cnt"))
        .orderBy(F.col("cnt").desc(), "x", "y")
        .limit(1)
        .select("x", "y", F.lit(1).alias("__k"))
    )
    flagged = (
        paired.withColumn("__k", F.lit(1))
        .join(top, "__k", "left")
        .drop("__k")
        .withColumn(
            "match",
            F.coalesce(
                (F.col("tok") == F.col("x")) & (F.col("nxt") == F.col("y")),
                F.lit(False),  # last char of a word has NULL nxt
            ),
        )
        .withColumn(
            "new_run",
            F.col("match") & ~F.coalesce(F.lag("match").over(wp), F.lit(False)),
        )
        .withColumn(
            "run0", F.max(F.when(F.col("new_run"), F.col("pos"))).over(wcum)
        )
        .withColumn(
            "merge_here",
            F.col("match") & ((F.col("pos") - F.col("run0")) % 2 == 0),
        )
    )
    merged = (
        flagged.withColumn(
            "consumed", F.coalesce(F.lag("merge_here").over(wp), F.lit(False))
        )
        .filter(~F.col("consumed"))
        .select(
            "word",
            "freq",
            "pos",
            F.when(F.col("merge_here"), F.concat(F.col("x"), F.col("y")))
            .otherwise(F.col("tok"))
            .alias("tok"),
        )
    )
    return merged.withColumn(
        "pos",
        (F.row_number().over(Window.partitionBy("word").orderBy("pos")) - 1).cast(
            "long"
        ),
    )


def _trained_chars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(word, freq, tpos, tok) after :data:`MERGE_ITERS` trained merge
    rounds — the tokenizer model, shared by training-statistics
    (:func:`bpe_merges_t2`) and corpus encoding (:func:`bpe_apply`).

    The merge rounds run on the caller's session: once the corpus has
    collapsed to its exploded character table, every per-round
    window/join moves a vocabulary-sized frame, and AQE coalesces those
    shuffles to the minimum partition size at any session width."""
    chars = _vocab_chars(spark, sf_dir).localCheckpoint()
    for _ in range(MERGE_ITERS):
        # each round reads its predecessor twice (pair count + merge):
        # checkpoint keeps the window/join chains from re-running.
        # eager=False: the round's own pair-count broadcast build is
        # the first job over the frame and forces (and persists) the
        # checkpoint — one driver job per round instead of two,
        # identical lineage truncation (optimization round 14, the
        # connected_components pattern)
        chars = _merge_round(chars).localCheckpoint(eager=False)
    return chars


def bpe_merges_t2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenization statistics after :data:`MERGE_ITERS` learned BPE merges:
    ``(doc_id, n_words, n_bpe_tokens, tok_fp)`` per document, where
    ``n_bpe_tokens`` is the document's token count under the trained
    merges and ``tok_fp`` fingerprints each word's post-merge token
    sequence (so the oracle verifies the learned segmentation itself, not
    just counts).

    Scale shape: the corpus is aggregated ONCE to (word, freq); both merge
    rounds run windows/joins partitioned by word over the vocabulary-sized
    character table (per-task state = one word's characters); the winning
    pair is a 1-row broadcast. Applying the tokenizer back to documents is
    a vocabulary-table broadcast join onto per-doc word counts — the corpus
    is scanned exactly twice (dictionary build + application) and never
    shuffles except on (doc_id, word)."""
    chars = _trained_chars(spark, sf_dir)
    per_word = chars.groupBy("word", "freq").agg(
        F.count("*").cast("long").alias("n_toks"),
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("pos", "tok"))),
            F.lit(0).cast("long"),
            # SHINGLE_MULT/MOD imported, not re-hardcoded: four sites
            # (Spark+oracle here, dedup's pair) must retune together or the
            # fingerprint arithmetic silently forks (round-12 review)
            lambda acc, s: (acc * SHINGLE_MULT + poly_hash(s["tok"])) % MOD,
        ).alias("word_fp"),
    )
    from ..sources.tables import rebalance_narrow_scan

    path = f"{sf_dir}/documents.parquet"
    docs = rebalance_narrow_scan(
        spark.read.parquet(path).select("doc_id", "text"), path
    )
    doc_words = (
        docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("word"))
        .groupBy("doc_id", "word")
        .agg(F.count("*").cast("long").alias("cnt"))
    )
    return (
        doc_words.join(F.broadcast(per_word), "word")
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").cast("long").alias("n_words"),
            F.sum(F.col("cnt") * F.col("n_toks")).cast("long").alias("n_bpe_tokens"),
            F.sum(F.col("cnt") * F.col("word_fp")).cast("long").alias("tok_fp"),
        )
        .orderBy("doc_id")
    )


def bpe_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encode the corpus with the trained tokenizer — the step
    :func:`bpe_merges_t2` trains for: every document becomes its id
    sequence ``(doc_id, pos, token_id, token)``, with ``token_id`` assigned
    by corpus frequency (ties by token string) exactly as a production
    tokenizer's vocab file orders ids.

    Scale shape: training is the shared vocabulary-sized dataflow
    (:func:`_trained_chars`). Encoding is one corpus scan: per-doc word
    positions explode map-side, then BROADCAST joins against the model —
    word -> token count, word -> its trained token rows, token -> id (all
    vocabulary-sized, i.e. model state). The only corpus-wide exchange is
    the per-doc prefix-sum window, and it runs over WORD rows, not token
    rows: because trained positions are dense 0..n_toks-1 within each word
    (re-compacted every merge round), ``pos = (tokens in preceding words)
    + tpos`` — so the cumulative sum needs only one row per corpus word,
    and the token-level fan-out happens map-side AFTER the exchange
    (~4-5x less shuffled/sorted volume than numbering exploded token
    rows). Per-task window state is one document's words. The
    id-assignment window is global but runs over the VOCABULARY
    (model-sized, like the kmeans centroid collect) — never the corpus."""
    chars = _trained_chars(spark, sf_dir)
    ids = (
        chars.groupBy("tok")
        .agg(F.sum("freq").cast("long").alias("tot"))
        .withColumn(
            "token_id",
            F.row_number()
            .over(Window.orderBy(F.col("tot").desc(), "tok"))
            .cast("long"),
        )
        .select("tok", "token_id")
    )
    from ..sources.tables import rebalance_narrow_scan

    path = f"{sf_dir}/documents.parquet"
    docs = rebalance_narrow_scan(
        spark.read.parquet(path).select("doc_id", "text"), path
    )
    dw = docs.select(
        "doc_id", F.posexplode(tokens(F.col("text"))).alias("widx", "word")
    )
    n_toks = chars.groupBy("word").agg(F.count("*").cast("long").alias("n_toks"))
    # the ONLY corpus exchange: per-doc running token offset over WORD rows
    # (trained positions are dense per word, so offset + tpos IS the global
    # token position — no need to shuffle the exploded token rows)
    w_off = Window.partitionBy("doc_id").orderBy("widx").rowsBetween(
        Window.unboundedPreceding, -1
    )
    dw_off = dw.join(F.broadcast(n_toks), "word").withColumn(
        "off", F.coalesce(F.sum("n_toks").over(w_off), F.lit(0)).cast("long")
    )
    flat = dw_off.join(
        F.broadcast(chars.select("word", F.col("pos").alias("tpos"), "tok")), "word"
    ).join(F.broadcast(ids), "tok")
    # sortWithinPartitions, NOT a global orderBy: the output is corpus-sized
    # (one row per token), so a presentation sort would add a second
    # corpus-wide range exchange for nothing — the driver's value hash is
    # order-insensitive and every consumer (pytest reconstruction, oracle
    # compare) sorts locally. Within-partition (doc_id, pos) order keeps
    # per-document runs contiguous for downstream writers at zero exchanges.
    return flat.select(
        "doc_id",
        (F.col("off") + F.col("tpos")).cast("long").alias("pos"),
        "token_id",
        F.col("tok").alias("token"),
    ).sortWithinPartitions("doc_id", "pos")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {"bpe_merges_t2": bpe_merges_t2, "bpe_apply": bpe_apply}


_POLY_TOK = DUCK_POLY_HASH.format(x="tok")


def _duck_round(prev: str, this: str) -> str:
    """One unrolled merge iteration: chars_{i} -> chars_{i+1}."""
    return f"""
    {this}_paired AS (
        SELECT word, freq, pos, tok,
               LEAD(tok) OVER (PARTITION BY word ORDER BY pos) AS nxt
        FROM {prev}
    ), {this}_top AS (
        SELECT tok AS x, nxt AS y
        FROM {this}_paired WHERE nxt IS NOT NULL
        GROUP BY tok, nxt
        ORDER BY SUM(freq) DESC, x, y LIMIT 1
    ), {this}_matched AS (
        SELECT word, pos,
               pos - MAX(CASE WHEN isnew THEN pos END) OVER (
                   PARTITION BY word ORDER BY pos
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS off
        FROM (
            SELECT word, pos,
                   COALESCE(pos - LAG(pos) OVER (PARTITION BY word ORDER BY pos), 2) > 1 AS isnew
            FROM {this}_paired, {this}_top
            WHERE tok = x AND nxt = y
        )
    ), {this}_mpos AS (
        SELECT word, pos FROM {this}_matched WHERE off % 2 = 0
    ), {this}_raw AS (
        -- LEFT JOIN ON TRUE, not CROSS JOIN: an empty winner (no pair
        -- anywhere = BPE early stop) must leave the round a NO-OP rather
        -- than empty the vocabulary (mirrors the Spark merge round)
        SELECT c.word, c.freq, c.pos,
               CASE WHEN m.pos IS NOT NULL THEN t.x || t.y ELSE c.tok END AS tok
        FROM {this}_paired c
        LEFT JOIN {this}_top t ON TRUE
        LEFT JOIN {this}_mpos m ON m.word = c.word AND m.pos = c.pos
        LEFT JOIN {this}_mpos p ON p.word = c.word AND p.pos = c.pos - 1
        WHERE p.pos IS NULL
    ), {this} AS (
        SELECT word, freq,
               CAST(ROW_NUMBER() OVER (PARTITION BY word ORDER BY pos) - 1 AS BIGINT) AS pos,
               tok
        FROM {this}_raw
    )"""


def _duck_chain() -> str:
    """The trained-model CTE chain (vocab -> chars0 -> chars{MERGE_ITERS}),
    shared by the bpe_merges_t2 and bpe_apply oracles so the two replays of
    the tokenizer cannot drift."""
    rounds = "".join(
        "," + _duck_round(f"chars{i}", f"chars{i + 1}") for i in range(MERGE_ITERS)
    )
    return f"""vocab AS (
                SELECT word, CAST(COUNT(*) AS BIGINT) AS freq
                FROM (SELECT UNNEST({DUCK_TOKENS.format(x="text")}) AS word FROM documents)
                GROUP BY word
            ), chars0 AS (
                SELECT word, freq, CAST(i - 1 AS BIGINT) AS pos,
                       string_split(word, '')[i] AS tok
                FROM vocab, UNNEST(range(1, len(string_split(word, '')) + 1)) AS g(i)
            ){rounds}"""


def oracles() -> dict[str, str]:
    return {
        **_bpe_apply_oracle(),
        "bpe_merges_t2": f"""
            WITH {_duck_chain()}, per_word AS (
                SELECT word, freq, CAST(COUNT(*) AS BIGINT) AS n_toks,
                       list_reduce(
                           list_prepend(CAST(0 AS BIGINT),
                               list_transform(list(tok ORDER BY pos), tok -> {_POLY_TOK})),
                           (acc, h) -> (acc * {SHINGLE_MULT} + h) % {MOD}) AS word_fp
                FROM chars{MERGE_ITERS} GROUP BY word, freq
            ), doc_words AS (
                SELECT doc_id, word, CAST(COUNT(*) AS BIGINT) AS cnt
                FROM (SELECT doc_id, UNNEST({DUCK_TOKENS.format(x="text")}) AS word
                      FROM documents)
                GROUP BY doc_id, word
            )
            SELECT d.doc_id,
                   CAST(SUM(d.cnt) AS BIGINT) AS n_words,
                   CAST(SUM(d.cnt * w.n_toks) AS BIGINT) AS n_bpe_tokens,
                   CAST(SUM(d.cnt * w.word_fp) AS BIGINT) AS tok_fp
            FROM doc_words d JOIN per_word w ON w.word = d.word
            GROUP BY d.doc_id ORDER BY d.doc_id
        """,
    }


def _bpe_apply_oracle() -> dict[str, str]:
    toks = DUCK_TOKENS.format(x="text")
    return {
        "bpe_apply": f"""
            WITH {_duck_chain()}, ids AS (
                SELECT tok,
                       CAST(ROW_NUMBER() OVER (
                           ORDER BY SUM(freq) DESC, tok) AS BIGINT) AS token_id
                FROM chars{MERGE_ITERS} GROUP BY tok
            ), dw AS (
                SELECT doc_id, CAST(i AS BIGINT) AS widx, toks[i] AS word
                FROM (SELECT doc_id, {toks} AS toks FROM documents),
                     UNNEST(range(1, len(toks) + 1)) AS g(i)
            ), flat AS (
                SELECT d.doc_id, d.widx, c.pos AS tpos, c.tok
                FROM dw d JOIN chars{MERGE_ITERS} c ON c.word = d.word
            )
            SELECT f.doc_id,
                   CAST(ROW_NUMBER() OVER (
                       PARTITION BY f.doc_id
                       ORDER BY f.widx, f.tpos) - 1 AS BIGINT) AS pos,
                   i.token_id, f.tok AS token
            FROM flat f JOIN ids i ON i.tok = f.tok
            ORDER BY f.doc_id, pos
        """,
    }
