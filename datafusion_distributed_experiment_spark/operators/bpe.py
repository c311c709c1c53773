"""Distributed BPE tokenizer training: the pair-merge iteration as dataflow.

Byte-pair-encoding training (Sennrich et al. 2016, "Neural Machine
Translation of Rare Words with Subword Units" — the algorithm behind GPT/
Llama tokenizers) is usually presented as a single-machine loop over a
word-frequency dictionary. The dataflow form: collapse the corpus to its
(word, freq) dictionary — the ONE corpus-sized shuffle — then each merge
iteration is (a) an adjacent-pair count weighted by word frequency, (b) an
argmax over the pair table, (c) a left-to-right greedy merge applied to
every word's token sequence. The model is one row per vocabulary word,
``(word, freq, toks)``, so (a) is a map-side explode of each word's
adjacent pairs into one aggregate and (c) is a map-side array fold; (b)
reduces to one row. At 100 TB the corpus aggregation dominates and
everything downstream runs on the vocabulary table (millions of rows, not
billions) — which is exactly why tokenizer training is tractable at all.

The subtle part is (c): BPE's merge is GREEDY left-to-right, so in a run of
overlapping matches ("aaa" under pair (a,a)) only every other position
merges. The fold walks each word's tokens once with a ``skip`` flag: a
match appends ``x||y`` and skips the consumed right half, so the greedy
rule is the loop itself, with no windows and no position bookkeeping. The
DuckDB oracle replays the same merges as a gaps-and-islands window chain
over one row per character; the learned merges and the resulting
tokenization match bit-for-bit.

Reference analog: the extension-operator mechanism
(tests/custom_extension_codec.rs:160-264). MERGE_ITERS is fixed (2) so the
DuckDB oracle is the same algorithm unrolled as CTEs — the
kmeans_lloyd_t3 / pagerank_nations pattern for iterative algorithms.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.text import DUCK_POLY_HASH, DUCK_TOKENS, poly_hash, tokens
from ..sources.tables import rebalance_narrow_scan
from .dedup import MOD, SHINGLE_MULT

MERGE_ITERS = 2


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, text) — the ONE read of ``documents.parquet`` per call (one
    schema inference, one footer probe); it feeds both the vocabulary build
    and the encode side."""
    path = f"{sf_dir}/documents.parquet"
    return rebalance_narrow_scan(
        spark.read.parquet(path).select("doc_id", "text"), path
    )


def _vocab_words(docs: DataFrame) -> DataFrame:
    """(word, freq, toks) — one row per vocabulary word, its tokens the
    word's single characters. The corpus collapses to (word, freq) first,
    so the model is vocabulary-sized, never corpus-sized."""
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
        # into two lone surrogates — different pair counts vs DuckDB);
        # also emits no trailing "" on any Spark
        F.regexp_extract_all("word", F.lit(r"(?s)."), 0).alias("toks"),
    )


# Every adjacent token pair of a word, as (x, y) structs.
_PAIRS = """explode(zip_with(
    slice(toks, 1, greatest(size(toks) - 1, 0)),
    slice(toks, 2, greatest(size(toks) - 1, 0)),
    (a, b) -> named_struct('x', a, 'y', b)))"""

# The greedy left-to-right merge of the winning pair (x, y), step for step
# the Python loop: the fold carries the output tokens and a flag that drops
# the right half of the pair just merged, so in a run of overlapping
# matches ("aaa" under (a, a)) only every other position merges. Words
# shorter than two tokens, and every word in a round without a winner,
# keep their tokens. ``get`` returns NULL past the end of the array.
_MERGED = """CASE WHEN x IS NULL OR size(toks) < 2 THEN toks ELSE aggregate(
    sequence(0, size(toks) - 1),
    named_struct('out', CAST(array() AS array<string>), 'skip', false),
    (acc, i) -> CASE
        WHEN acc.skip THEN named_struct('out', acc.out, 'skip', false)
        WHEN get(toks, i) = x AND get(toks, i + 1) = y
            THEN named_struct('out', array_append(acc.out, x || y), 'skip', true)
        ELSE named_struct('out', array_append(acc.out, get(toks, i)), 'skip', false)
    END,
    acc -> acc.out) END"""


def _merge_round(words: DataFrame) -> DataFrame:
    """One BPE iteration over (word, freq, toks): count the adjacent pairs,
    pick the winner, apply the greedy merge to every word.

    A round with NO adjacent pair anywhere (every word already a single
    token, or an all-single-character vocabulary) is a NO-OP, as in
    standard BPE early stopping: the 1-row argmax is joined LEFT on a
    constant key, so an empty winner leaves every word's tokens as they
    are instead of emptying the vocabulary through a cross join
    (hypothesis-caught on the corpus [['aa']]; the DuckDB oracle chain
    no-ops the same way).

    Both steps are SQL expression strings: each is parsed in one call,
    where the same expression built from Column objects costs hundreds
    of driver round trips per round."""
    top = F.broadcast(
        words.select("freq", F.expr(_PAIRS).alias("p"))
        .groupBy("p.x", "p.y")
        .agg(F.sum("freq").alias("cnt"))
        .orderBy(F.col("cnt").desc(), "x", "y")
        .limit(1)
        .select("x", "y", F.lit(1).alias("__k"))
    )
    return (
        words.withColumn("__k", F.lit(1))
        .join(top, "__k", "left")
        .select("word", "freq", F.expr(_MERGED).alias("toks"))
    )


def _trained_words(docs: DataFrame) -> DataFrame:
    """(word, freq, toks) after :data:`MERGE_ITERS` trained merge rounds —
    the tokenizer model, shared by training-statistics
    (:func:`bpe_merges_t2`) and corpus encoding (:func:`bpe_apply`).

    The merge rounds run on the caller's session: once the corpus has
    collapsed to its vocabulary, every per-round aggregate/join moves a
    vocabulary-sized frame, and AQE coalesces those shuffles to the
    minimum partition size at any session width."""
    words = _vocab_words(docs).localCheckpoint()
    for _ in range(MERGE_ITERS):
        # each round reads its predecessor twice (pair count + merge):
        # checkpoint keeps the join chains from re-running.
        # eager=False: the round's own pair-count broadcast build is
        # the first job over the frame and forces (and persists) the
        # checkpoint — one driver job per round instead of two,
        # identical lineage truncation (optimization round 14, the
        # connected_components pattern)
        words = _merge_round(words).localCheckpoint(eager=False)
    return words


def bpe_merges_t2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenization statistics after :data:`MERGE_ITERS` learned BPE merges:
    ``(doc_id, n_words, n_bpe_tokens, tok_fp)`` per document, where
    ``n_bpe_tokens`` is the document's token count under the trained
    merges and ``tok_fp`` fingerprints each word's post-merge token
    sequence (so the oracle verifies the learned segmentation itself, not
    just counts).

    Scale shape: one read of the corpus is scanned twice — aggregated to
    (word, freq) for training, then counted per (doc_id, word) for the
    application. Both merge rounds run over the vocabulary-sized word
    table, and the winning pair is a 1-row broadcast. Applying the
    tokenizer is a broadcast join of the model's per-word token count and
    fingerprint onto the per-doc word counts — the corpus never shuffles
    except on (doc_id, word)."""
    docs = _docs(spark, sf_dir)
    per_word = _trained_words(docs).select(
        "word",
        F.size("toks").cast("long").alias("n_toks"),
        F.aggregate(
            "toks",
            F.lit(0).cast("long"),
            # SHINGLE_MULT/MOD imported, not re-hardcoded: four sites
            # (Spark+oracle here, dedup's pair) must retune together or the
            # fingerprint arithmetic silently forks (round-12 review)
            lambda acc, t: (acc * SHINGLE_MULT + poly_hash(t)) % MOD,
        ).alias("word_fp"),
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
    (:func:`_trained_words`), off the same corpus read as the encode side.
    Encoding: per-doc word positions explode map-side, then two BROADCAST
    joins against the model — word -> its trained tokens, token -> id
    (both model-sized). The only corpus-wide exchange is the per-doc
    prefix-sum window, and it runs over WORD rows, not token rows:
    ``pos = (tokens in preceding words) + tpos`` — so the cumulative sum of
    ``size(toks)`` needs only one row per corpus word, and the token-level
    ``posexplode`` runs map-side AFTER the exchange (~4-5x less
    shuffled/sorted volume than numbering exploded token rows). Per-task
    window state is one document's words. The id-assignment window is
    global but runs over the trained TOKENS — at most the distinct code
    points of the corpus plus one new token per merge round (model-sized,
    like the kmeans centroid collect), never the corpus or its
    vocabulary."""
    docs = _docs(spark, sf_dir)
    words = _trained_words(docs)
    ids = (
        words.select("freq", F.explode("toks").alias("tok"))
        .groupBy("tok")
        .agg(F.sum("freq").cast("long").alias("tot"))
        .withColumn(
            "token_id",
            F.row_number()
            .over(Window.orderBy(F.col("tot").desc(), "tok"))
            .cast("long"),
        )
        .select("tok", "token_id")
    )
    dw = docs.select(
        "doc_id", F.posexplode(tokens(F.col("text"))).alias("widx", "word")
    )
    # the ONLY corpus exchange: per-doc running token offset over WORD rows
    # (offset + tpos IS the global token position — no need to shuffle the
    # exploded token rows)
    w_off = Window.partitionBy("doc_id").orderBy("widx").rowsBetween(
        Window.unboundedPreceding, -1
    )
    dw_off = dw.join(F.broadcast(words.select("word", "toks")), "word").withColumn(
        "off", F.coalesce(F.sum(F.size("toks")).over(w_off), F.lit(0)).cast("long")
    )
    flat = dw_off.select(
        "doc_id", "off", F.posexplode("toks").alias("tpos", "tok")
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
