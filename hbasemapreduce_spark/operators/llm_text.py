"""§2.9 LLM-data-pipeline: text analysis over `documents`.

North-star operators (BASELINE.json:6): corpus statistics, term
frequencies, token counting, quality scoring, language ID, document
fingerprinting.  All JVM-side except nothing — no Python UDFs needed.

Scale notes: every aggregation is partial+final hash agg; the langid
profile join broadcasts a per-language top-terms table (constant size:
n_langs x k terms) against the 100 TB document scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.determinism import hex_int, hex_int_duck
from ..functions.text import (
    STOPWORDS,
    stopword_ratio,
    tokens,
    winnow_fingerprint_rows,
)
from ..registry import query


@query(
    "text_stats",
    category="llm_text",
    oracle=(
        "WITH per AS (SELECT lang, source, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS sum_chars "
        "             FROM documents GROUP BY 1, 2), "
        "tok AS (SELECT lang, source, COUNT(DISTINCT token) AS n_distinct_tokens FROM "
        "        (SELECT lang, source, unnest(string_split(text, ' ')) AS token FROM documents) "
        "        GROUP BY 1, 2) "
        "SELECT per.lang, per.source, n_docs, sum_chars, "
        "CAST(sum_chars AS DOUBLE) / n_docs AS avg_chars, n_distinct_tokens "
        "FROM per JOIN tok ON per.lang = tok.lang AND per.source = tok.source"
    ),
)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(lang, source): doc count, char stats, distinct-token count."""
    docs = load_table(spark, sf_dir, "documents")
    per = docs.groupBy("lang", "source").agg(
        F.count("*").alias("n_docs"), F.sum("n_chars").alias("sum_chars")
    )
    tok = (
        docs.select("lang", "source", F.explode(tokens()).alias("token"))
        .groupBy("lang", "source")
        .agg(F.countDistinct("token").alias("n_distinct_tokens"))
    )
    return per.join(tok, ["lang", "source"]).select(
        "lang",
        "source",
        "n_docs",
        "sum_chars",
        (F.col("sum_chars").cast("double") / F.col("n_docs")).alias("avg_chars"),
        "n_distinct_tokens",
    )


@query(
    "text_tf_topterms",
    category="llm_text",
    oracle=(
        "SELECT lang, token, cnt FROM ("
        "  SELECT lang, token, cnt, "
        "  row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, token) AS rn "
        "  FROM (SELECT lang, token, COUNT(*) AS cnt FROM "
        "        (SELECT lang, unnest(string_split(text, ' ')) AS token FROM documents) "
        "        GROUP BY 1, 2)"
        ") WHERE rn <= 10"
    ),
)
def text_tf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 terms per language by frequency (tie-broken by term)."""
    counts = (
        load_table(spark, sf_dir, "documents")
        .select("lang", F.explode(tokens()).alias("token"))
        .groupBy("lang", "token")
        .agg(F.count("*").alias("cnt"))
    )
    w = Window.partitionBy("lang").orderBy(F.desc("cnt"), F.asc("token"))
    return counts.select("*", F.row_number().over(w).alias("rn")).filter(F.col("rn") <= 10).drop("rn")


@query(
    "x_text_tokencount",
    category="llm_text",
    oracle=(
        "SELECT doc_id, "
        "CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws_tokens, "
        "CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+')) AS BIGINT) AS n_re_tokens "
        "FROM documents"
    ),
)
def text_tokencount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens + a BPE-ish regex tokenizer."""
    return load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(tokens()).cast("long").alias("n_ws_tokens"),
        F.size(F.expr("regexp_extract_all(text, '[a-z]+|[0-9]+', 0)"))
        .cast("long")
        .alias("n_re_tokens"),
    )


_STOP_SQL = "[" + ", ".join(f"'{s}'" for s in STOPWORDS) + "]"


@query(
    "x_text_quality",
    category="llm_text",
    oracle=(
        "SELECT doc_id, n_chars, "
        "CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens, "
        "CAST(len(list_filter(string_split(text, ' '), t -> list_contains("
        + _STOP_SQL
        + ", t))) AS DOUBLE) / len(string_split(text, ' ')) AS stop_ratio, "
        "CAST(n_chars AS DOUBLE) / len(string_split(text, ' ')) AS chars_per_token "
        "FROM documents"
    ),
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-scoring features: length, stopword ratio, chars/token.

    Integer/integer divisions of identical counts — deterministic
    doubles on both engines.
    """
    return load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "n_chars",
        F.size(tokens()).cast("long").alias("n_tokens"),
        stopword_ratio().alias("stop_ratio"),
        (F.col("n_chars").cast("double") / F.size(tokens())).alias("chars_per_token"),
    )


@query(
    "x_text_fingerprint",
    category="llm_text",
    oracle="SELECT doc_id, md5(text) AS fp FROM documents",
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact document fingerprint (md5 hex — identical across engines);
    the shift-resistant rolling-hash variant lives in dedup_simhash."""
    return load_table(spark, sf_dir, "documents").select("doc_id", F.md5("text").alias("fp"))


# CTE chain ending in ``langid_pred`` (doc_id, lang, predicted_lang) —
# shared between the x_text_langid oracle and x_eval_langid's, which
# rolls the same predictions into a confusion matrix.
LANGID_PRED_SQL = (
    "tf AS (SELECT lang, unnest(string_split(text, ' ')) AS token "
    "            FROM documents), "
    "cnts AS (SELECT lang, token, COUNT(*) AS cnt FROM tf GROUP BY 1, 2), "
    "prof AS (SELECT lang AS p_lang, token FROM ("
    "  SELECT lang, token, row_number() OVER ("
    "    PARTITION BY lang ORDER BY cnt DESC, token) AS rn FROM cnts) "
    "  WHERE rn <= 20), "
    "pl AS (SELECT p_lang, list(token) AS p_terms FROM prof GROUP BY 1), "
    "scored AS (SELECT d.doc_id, d.lang, p.p_lang, "
    "  len(list_intersect(list_distinct(string_split(d.text, ' ')), "
    "      p.p_terms)) AS score "
    "  FROM documents d CROSS JOIN pl p), "
    "langid_pred AS (SELECT doc_id, lang, p_lang AS predicted_lang FROM ("
    "  SELECT doc_id, lang, p_lang, row_number() OVER ("
    "    PARTITION BY doc_id ORDER BY score DESC, p_lang) AS rn FROM scored) "
    "  WHERE rn = 1)"
)


@query(
    "x_text_langid",
    category="llm_text",
    # Upgraded from rows-only (r5): every step — integer overlap scores,
    # (cnt DESC, token) profile ranking, (score DESC, lang) argmax — is
    # total and engine-portable, so the full prediction set hash-checks.
    oracle=(
        "WITH " + LANGID_PRED_SQL + " SELECT doc_id, lang, predicted_lang "
        "FROM langid_pred"
    ),
)
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram-profile language ID.

    Profiles are learned from the corpus itself (top-20 terms per
    language by frequency), broadcast, and each document is scored by
    token overlap; prediction = argmax score with deterministic
    tie-break on language code.  Output: doc_id, actual lang,
    predicted lang.

    Corpus-limit note (measured r2): this synthetic corpus draws every
    language from ONE shared vocabulary with near-uniform frequencies —
    max per-language token lift is ~1.2 — so NO profile method can beat
    chance here (top-frequency profiles: 22.6% over 5 langs;
    lift-weighted profiles measured 21.6%, i.e. no better, so the
    simpler form stays).  The operator is therefore validated
    structurally (every doc classified exactly once, labels from the
    closed language set, deterministic under repartitioning); on a real
    multilingual corpus the same dataflow separates languages because
    character/token distributions actually differ.
    """
    docs = load_table(spark, sf_dir, "documents")
    term_freq = (
        docs.select("lang", F.explode(tokens()).alias("token"))
        .groupBy("lang", "token")
        .agg(F.count("*").alias("cnt"))
    )
    w = Window.partitionBy("lang").orderBy(F.desc("cnt"), F.asc("token"))
    profile = (
        term_freq.select("*", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= 20)
        .groupBy(F.col("lang").alias("p_lang"))
        .agg(F.collect_set("token").alias("p_terms"))
    )
    scored = (
        docs.select("doc_id", "lang", tokens().alias("toks"))
        .crossJoin(F.broadcast(profile))
        .select(
            "doc_id",
            "lang",
            "p_lang",
            F.size(F.array_intersect(F.array_distinct("toks"), "p_terms")).alias("score"),
        )
    )
    pick = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("p_lang"))
    return (
        scored.select("doc_id", "lang", "p_lang", F.row_number().over(pick).alias("rn"))
        .filter(F.col("rn") == 1)
        .select("doc_id", "lang", F.col("p_lang").alias("predicted_lang"))
    )


_WK = 8   # k-gram width (chars)
_WW = 16  # winnow window (k-gram positions)


@query(
    "x_text_winnow",
    category="llm_text",
    oracle=(
        # text[i:i+7] is 1-based inclusive slicing (8 chars); range(a, b)
        # excludes b and is empty when b <= a — mirrors the Spark guards.
        "WITH h AS (SELECT doc_id, list_transform("
        f"  range(1, greatest(length(text) - {_WK - 1}, 0) + 1), "
        f"  i -> md5(text[i:i+{_WK - 1}])) AS hs FROM documents) "
        "SELECT doc_id, unnest(list_distinct(list_transform("
        f"  range(1, greatest(len(hs) - {_WW - 1}, 0) + 1), "
        f"  j -> list_min(hs[j:j+{_WW - 1}])))) AS fp FROM h"
    ),
)
def text_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints (Schleimer et al., SIGMOD'03 — the MOSS
    algorithm): hash every 8-char gram, keep the MINIMUM hash of each
    16-gram window, emit the distinct survivors as (doc_id, fp) rows.
    Any shared substring of >= k+w-1 = 23 chars between two documents
    GUARANTEES a shared fingerprint — the shift-resistant rolling-hash
    fingerprint the md5 whole-doc variant (x_text_fingerprint) is not.

    Engine notes: the hash is md5 hex (bit-identical in Spark, DuckDB
    and CPython hashlib, so the windowed MIN — a lexicographic string
    min — is too, making this fully hash-checkable).  Executed via the
    Arrow monotonic-deque path (functions/text.py
    winnow_fingerprint_rows — O(grams) vs the interpreted-HOF form's
    O(grams x w); that JVM form is kept as the property-tested
    reference implementation).  Per-row compute only — the one
    repartition below exists because the TESTDATA table is a single
    parquet file (one input split would serialize the whole corpus
    through one Python worker); a 100 TB table already arrives as
    thousands of splits and would skip it."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    docs = docs.repartition(spark.sparkContext.defaultParallelism)
    return winnow_fingerprint_rows(docs, "doc_id", "text", "fp", k=_WK, w=_WW)


@query(
    "x_text_pii_mask",
    category="llm_text",
    oracle=(
        "WITH synth AS ("
        "  SELECT source, text || ' contact ' || split_part(text, ' ', 1) || "
        "  '@example.com phone 555-' || lpad(CAST(n_chars % 10000 AS VARCHAR), 4, '0') "
        "  AS text_pii FROM documents), "
        "masked AS ("
        "  SELECT source, text_pii, "
        "  regexp_replace(regexp_replace(text_pii, '[a-z0-9]+@[a-z0-9]+\\.com', "
        "    '<EMAIL>', 'g'), '555-[0-9]{4}', '<PHONE>', 'g') AS clean "
        "  FROM synth) "
        "SELECT source, COUNT(*) AS n_docs, "
        "CAST(SUM(len(regexp_extract_all(text_pii, '[a-z0-9]+@[a-z0-9]+\\.com'))) AS BIGINT) AS n_emails, "
        "CAST(SUM(len(regexp_extract_all(text_pii, '555-[0-9]{4}'))) AS BIGINT) AS n_phones, "
        "CAST(SUM(length(text_pii) - length(clean)) AS BIGINT) AS len_delta, "
        "CAST(SUM(len(regexp_extract_all(clean, '<EMAIL>|<PHONE>'))) AS BIGINT) AS n_masked "
        "FROM masked GROUP BY source"
    ),
)
def text_pii_mask(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction, the mandatory scrub pass before any corpus ships
    to training: regex-mask emails and phone-shaped tokens, audited per
    source (pattern counts pre-mask, masked-marker counts post-mask,
    character delta).  The corpus is synthetic tokens with no real PII,
    so deterministic PII-shaped strings are first WOVEN IN from the
    row's own fields (first token -> an @example.com address, n_chars
    -> a 555- phone) — the masking path then has real work whose
    outcome the oracle checks exactly.

    Scale story: pure per-row JVM regex (codegen, no shuffle) feeding
    one integer hash aggregate; the regexes are RE2-safe subsets
    (character classes + bounded quantifiers, no backtracking blowup)
    so the same patterns run on any engine a 100 TB pipeline pairs
    Spark with.  All checked metrics are bigint counts — no float
    caveats."""
    docs = load_table(spark, sf_dir, "documents")
    email_pat = "[a-z0-9]+@[a-z0-9]+\\.com"
    phone_pat = "555-[0-9]{4}"
    synth = docs.select(
        "source",
        F.concat(
            F.col("text"),
            F.lit(" contact "),
            # first token via substring_index (r12): stops at the first
            # space instead of building the full per-word array
            F.substring_index(F.col("text"), " ", 1),
            F.lit("@example.com phone 555-"),
            F.lpad((F.col("n_chars") % 10000).cast("string"), 4, "0"),
        ).alias("text_pii"),
    )
    masked = synth.withColumn(
        "clean",
        F.regexp_replace(
            F.regexp_replace("text_pii", email_pat, "<EMAIL>"), phone_pat, "<PHONE>"
        ),
    )
    return masked.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.regexp_count("text_pii", F.lit(email_pat))).alias("n_emails"),
        F.sum(F.regexp_count("text_pii", F.lit(phone_pat))).alias("n_phones"),
        F.sum(F.length("text_pii") - F.length("clean")).alias("len_delta"),
        F.sum(F.regexp_count("clean", F.lit("<EMAIL>|<PHONE>"))).alias("n_masked"),
    )


_BM25_TERMS = ["scan", "join", "filter"]

# CTE chain ending in the ranked BM25 top-20 list ``bm25ranked`` (doc_id,
# score, rnk) — shared between x_rank_bm25's oracle and x_rank_rrf's
# (which fuses it with a dense ranking).
BM25_RANKED_SQL = (
    "toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents), "
    "dl AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl FROM toks GROUP BY 1), "
    "stats AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs, "
    "          CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl FROM dl), "
    "tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf FROM toks "
    "       WHERE term IN ('scan','join','filter') GROUP BY 1, 2), "
    "df AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1), "
    "scored AS ("
    "  SELECT tf.doc_id, "
    "    CAST((CAST(s.n_docs AS DOUBLE) - df.df + 0.5::DOUBLE) / (df.df + 0.5::DOUBLE) "
    "      * (tf.tf * 2.2::DOUBLE) "
    "      / (tf.tf + 1.2::DOUBLE * (1.0::DOUBLE - 0.75::DOUBLE + 0.75::DOUBLE * d.dl / s.avgdl)) "
    "      AS DECIMAL(18,6)) AS term_score "
    "  FROM tf JOIN df USING (term) JOIN dl d USING (doc_id) CROSS JOIN stats s), "
    "agg AS (SELECT doc_id, CAST(SUM(term_score) AS DOUBLE) AS score "
    "        FROM scored GROUP BY 1), "
    "bm25ranked AS (SELECT doc_id, score, rnk FROM ("
    "  SELECT doc_id, score, ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS rnk FROM agg) "
    "WHERE rnk <= 20)"
)


@query(
    "x_rank_bm25",
    category="llm_text",
    oracle=("WITH " + BM25_RANKED_SQL + " SELECT doc_id, score, rnk FROM bm25ranked"),
)
def rank_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 retrieval over the documents table (k1=1.2, b=0.75) with a
    RATIONAL idf — (N - df + 0.5)/(df + 0.5) without the log.  The log
    is monotone, so per-term ranking is unchanged, and dropping it
    keeps every operation in IEEE +,-,*,/ (this package admits sqrt,
    which IEEE rounds correctly, but no transcendentals — Java's
    Math.log and C libm disagree in the last ulp, which is exactly the
    cross-engine rank-boundary flake ADVICE r2 warned about).  The <=3
    per-doc term scores are summed through a decimal(18,6) sandwich, so
    the total is order-independent; ranking then runs on bit-identical
    doubles with a doc_id tie-break.

    Scale shape: tokenize-explode -> (doc, term) tf aggregate filtered
    to the query terms (term dictionary pushdown: the IN filter prunes
    before the shuffle), df and corpus stats are content-bounded
    broadcasts (|terms| rows and 1 row), and the final top-k is a
    single-column rank over docs that matched at least one term — at
    100 TB the only corpus-sized jobs are the two token aggregates."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
    dl = toks.groupBy("doc_id").agg(F.count("*").alias("dl"))
    stats = dl.agg(
        F.count("*").alias("n_docs"),
        (F.sum("dl").cast("double") / F.count("*")).alias("avgdl"),
    )
    tf = (
        toks.filter(F.col("term").isin(_BM25_TERMS))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    df = tf.groupBy("term").agg(F.count("*").alias("df"))
    ridf = (F.col("n_docs").cast("double") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    den = F.col("tf") + 1.2 * (1.0 - 0.75 + 0.75 * F.col("dl") / F.col("avgdl"))
    scored = (
        tf.join(F.broadcast(df), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            (ridf * (F.col("tf") * 2.2) / den).cast("decimal(18,6)").alias("term_score"),
        )
    )
    agg = scored.groupBy("doc_id").agg(
        F.sum("term_score").cast("double").alias("score")
    )
    w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        agg.select("doc_id", "score", F.row_number().over(w).alias("rnk"))
        .filter(F.col("rnk") <= 20)
    )


_BPE_ROUNDS = 3


def _bpe_round_sql(i: int) -> str:
    """One unrolled BPE merge round as DuckDB CTEs: pair counts ->
    best pair -> greedy left-to-right merge via the run-parity window
    trick (see x_text_bpe_train)."""
    j = i + 1
    return (
        f"p{i} AS (SELECT word, freq, pos, sym, "
        f"  lead(sym) OVER (PARTITION BY word ORDER BY pos) AS nxt FROM syms{i}), "
        f"c{i} AS (SELECT sym AS pa, nxt AS pb, CAST(SUM(freq) AS BIGINT) AS cnt "
        f"  FROM p{i} WHERE nxt IS NOT NULL GROUP BY 1, 2), "
        f"b{i} AS (SELECT pa, pb, cnt FROM c{i} ORDER BY cnt DESC, pa, pb LIMIT 1), "
        f"f{i} AS (SELECT p.word, p.freq, p.pos, p.sym, p.nxt, b.pa, b.pb, "
        f"  CASE WHEN p.nxt IS NOT NULL AND p.sym = b.pa AND p.nxt = b.pb "
        f"       THEN 1 ELSE 0 END AS m "
        f"  FROM p{i} p CROSS JOIN b{i} b), "
        f"g{i} AS (SELECT *, SUM(m) OVER (PARTITION BY word ORDER BY pos "
        f"  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cm FROM f{i}), "
        f"h{i} AS (SELECT *, CASE WHEN m = 1 THEN pos - cm ELSE NULL END AS run_key "
        f"  FROM g{i}), "
        f"k{i} AS (SELECT *, CASE WHEN m = 1 AND (row_number() OVER ("
        f"  PARTITION BY word, run_key ORDER BY pos)) % 2 = 1 THEN 1 ELSE 0 END "
        f"  AS keep FROM h{i}), "
        f"l{i} AS (SELECT *, COALESCE(lag(keep) OVER ("
        f"  PARTITION BY word ORDER BY pos), 0) AS consumed FROM k{i}), "
        f"syms{j} AS (SELECT word, freq, "
        f"  row_number() OVER (PARTITION BY word ORDER BY pos) AS pos, "
        f"  CASE WHEN keep = 1 THEN pa || pb ELSE sym END AS sym "
        f"  FROM l{i} WHERE consumed = 0) "
    )


_BPE_PREFIX = (
    "WITH w AS (SELECT token AS word, CAST(COUNT(*) AS BIGINT) AS freq FROM "
    "  (SELECT unnest(string_split(text, ' ')) AS token FROM documents) "
    "  WHERE token <> '' GROUP BY 1), "
    "syms1 AS (SELECT word, freq, t.pos AS pos, "
    "  substr(word, CAST(t.pos AS INT), 1) AS sym "
    "  FROM w, unnest(range(1, length(word) + 1)) AS t(pos)), "
    + ", ".join(_bpe_round_sql(i) for i in range(1, _BPE_ROUNDS + 1))
)

_BPE_SQL = (
    _BPE_PREFIX
    + " SELECT * FROM ("
    + " UNION ALL ".join(
        f"SELECT CAST({i} AS BIGINT) AS merge_rank, pa AS left_sym, "
        f"pb AS right_sym, cnt FROM b{i}"
        for i in range(1, _BPE_ROUNDS + 1)
    )
    + ")"
)


@query("x_text_bpe_train", category="llm_text", oracle=_BPE_SQL)
def text_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer training on-engine (Sennrich et al. 2016): learn
    the first 3 merge rules of a byte-pair-encoding vocabulary from the
    corpus — repeatedly count adjacent symbol pairs (weighted by word
    frequency) and merge the most frequent pair everywhere it occurs.
    Output: (merge_rank, left_sym, right_sym, pair_count) — the start
    of the merges.txt every BPE/GPT-style tokenizer ships.

    Scale shape — why tokenizer training fits a 100 TB engine: the ONLY
    corpus-sized job is the first word-frequency aggregate; every merge
    round then runs on the VOCABULARY (distinct words x characters), a
    relation bounded by language, not corpus size.  Rounds are unrolled
    (fixed 3), each: per-word lead() window -> pair-count hash
    aggregate -> 1-row argmax broadcast -> merge.

    The merge itself is the subtle part: BPE's greedy left-to-right
    non-overlapping replacement ('aaaa' + pair (a,a) -> 'aa','aa', NOT
    three overlapping pairs) is a sequential recurrence, expressed here
    declaratively with the RUN-PARITY trick: positions starting a match
    form runs of consecutive indexes (run id = pos minus running match
    count — constant within a run); within each run exactly the odd
    (1st, 3rd, ...) match-starts survive, which is precisely the greedy
    schedule.  Two windows over (word, pos) — no UDF, no per-row loop,
    bit-identical in both engines.  Determinism: integer counts, total
    argmax order (cnt DESC, pair ASC), and the same window frames on
    both sides."""
    bests, _syms = _bpe_train_frames(spark, sf_dir)
    out = bests[0]
    for b in bests[1:]:
        out = out.unionByName(b)
    return out


def _bpe_train_frames(spark: SparkSession, sf_dir: str):
    """The shared BPE training loop over the documents corpus: returns
    (per-round best-pair frames, the vocabulary symbol table AFTER all
    merges) — consumed by x_text_bpe_train (the merges) and
    x_text_bpe_apply (the encoder)."""
    docs = load_table(spark, sf_dir, "documents")
    w = (
        docs.select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
    )
    return bpe_train_core(w)


# One merge round's greedy left-to-right replacement as a single SQL
# statement (the run-parity window trick; the Spark twin of
# _bpe_round_sql above).  r12: the former ~10-op DataFrame chain per
# round re-analyzed a growing tree at every op — one spark.sql call
# per stage analyzes once (A/B at sf0.1: train 2.99 -> 1.76 s, apply
# 3.40 -> 2.23 s, outputs bit-identical; the seeded pure-Python
# differential in tests/test_random_differential.py gates the greedy
# semantics).
_BPE_MERGE_SQL = (
    "SELECT word, freq, "
    "  row_number() OVER (PARTITION BY word ORDER BY pos) AS pos, "
    "  CASE WHEN keep = 1 THEN concat(pa, pb) ELSE sym END AS sym "
    "FROM ("
    " SELECT *, COALESCE(lag(keep) OVER (PARTITION BY word ORDER BY pos), 0) "
    "   AS consumed "
    " FROM ("
    "  SELECT *, CASE WHEN m = 1 AND (row_number() OVER ("
    "    PARTITION BY word, run_key ORDER BY pos)) % 2 = 1 THEN 1 ELSE 0 END "
    "    AS keep "
    "  FROM ("
    "   SELECT *, CASE WHEN m = 1 THEN pos - cm ELSE NULL END AS run_key "
    "   FROM ("
    "    SELECT *, SUM(m) OVER (PARTITION BY word ORDER BY pos "
    "      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cm "
    "    FROM ("
    "     SELECT p.word, p.freq, p.pos, p.sym, p.nxt, b.pa, b.pb, "
    "       CASE WHEN p.nxt IS NOT NULL AND p.sym = b.pa AND p.nxt = b.pb "
    "            THEN 1 ELSE 0 END AS m "
    "     FROM (SELECT word, freq, pos, sym, lead(sym) OVER ("
    "       PARTITION BY word ORDER BY pos) AS nxt FROM {syms}) p "
    "     CROSS JOIN {best} b"
    "    )"
    "   )"
    "  )"
    " )"
    ") WHERE consumed = 0"
)


def bpe_train_core(w: DataFrame, rounds: int = _BPE_ROUNDS):
    """BPE training core over an arbitrary (word, freq) table —
    `rounds` merge rounds of count-pairs -> argmax -> run-parity greedy
    merge; see x_text_bpe_train for the algorithm and determinism
    notes.  Exposed separately so the randomized differential test
    (tests/test_random_differential.py) can drive it with seeded
    random vocabularies against a pure-Python reimplementation of the
    same greedy recurrence.  Each round is two spark.sql stages (the
    1-row argmax, then the merge — _BPE_MERGE_SQL above); checkpoint
    boundaries are unchanged from the DataFrame-chain form: syms and
    the per-round best are each consumed by two branches."""
    spark = w.sparkSession
    syms = spark.sql(
        "SELECT word, freq, CAST(pos AS BIGINT) AS pos, "
        "  substring(word, pos, 1) AS sym "
        "FROM (SELECT word, freq, "
        "  explode(sequence(1, length(word))) AS pos FROM {w})",
        w=w,
    ).localCheckpoint(eager=False)

    bests = []
    for rank in range(1, rounds + 1):
        best = spark.sql(
            "SELECT sym AS pa, nxt AS pb, SUM(freq) AS cnt "
            "FROM (SELECT freq, sym, lead(sym) OVER ("
            "  PARTITION BY word ORDER BY pos) AS nxt FROM {syms}) "
            "WHERE nxt IS NOT NULL GROUP BY sym, nxt "
            "ORDER BY cnt DESC, pa, pb LIMIT 1",
            syms=syms,
        ).localCheckpoint(eager=False)  # feeds the merge AND the output union
        bests.append(
            best.select(
                F.lit(rank).cast("long").alias("merge_rank"),
                F.col("pa").alias("left_sym"),
                F.col("pb").alias("right_sym"),
                "cnt",
            )
        )
        syms = spark.sql(_BPE_MERGE_SQL, syms=syms, best=best).localCheckpoint(
            eager=False
        )
    return bests, syms


@query(
    "x_text_bpe_apply",
    category="llm_text",
    oracle=(
        _BPE_PREFIX
        + ", wl AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS n_bpe "
        f"         FROM syms{_BPE_ROUNDS + 1} GROUP BY 1), "
        "dw AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word "
        "       FROM documents) "
        "SELECT dw.doc_id, CAST(COUNT(*) AS BIGINT) AS n_ws, "
        "  CAST(SUM(wl.n_bpe) AS BIGINT) AS n_bpe "
        "FROM dw JOIN wl ON dw.word = wl.word "
        "WHERE dw.word <> '' GROUP BY 1"
    ),
)
def text_bpe_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer APPLY — the other half of x_text_bpe_train: encode
    the whole corpus with the learned merges and report per-doc token
    counts (whitespace words vs BPE symbols), the numbers a data
    pipeline needs for packing, pricing, and curriculum decisions.

    The key efficiency property of dictionary tokenization at scale:
    the merges are applied ONCE PER DISTINCT WORD (the vocabulary
    symbol table after 3 merge rounds — vocabulary-sized work), and the
    corpus pass is just word-explode + equi-join against the
    |vocab|-row length table + one per-doc aggregate.  No per-document
    BPE loop ever touches corpus-sized data.  n_bpe <= n_chars and
    n_bpe >= n_ws by construction (each merge shrinks a word by one
    symbol; asserted in tests/test_properties.py)."""
    _bests, syms = _bpe_train_frames(spark, sf_dir)
    wl = syms.groupBy("word").agg(F.count("*").alias("n_bpe"))
    dw = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word") != "")
    )
    return (
        dw.join(wl, "word")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_ws"), F.sum("n_bpe").alias("n_bpe"))
    )


@query(
    "x_text_chi2_terms",
    category="llm_text",
    oracle=(
        "WITH dt AS (SELECT DISTINCT doc_id, lang, "
        "    unnest(string_split(text, ' ')) AS term FROM documents), "
        "n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents), "
        "nc AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_c "
        "       FROM documents GROUP BY 1), "
        "dft AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df_t FROM dt GROUP BY 1), "
        "dftc AS (SELECT lang, term, CAST(COUNT(*) AS BIGINT) AS df_in "
        "         FROM dt GROUP BY 1, 2), "
        "cells AS (SELECT x.lang, x.term, x.df_in, "
        "    t.df_t - x.df_in AS df_out, c.n_c, t.df_t, n.n "
        "  FROM dftc x JOIN dft t USING (term) JOIN nc c USING (lang) CROSS JOIN n "
        "  WHERE t.df_t >= 5 AND t.df_t <= n.n - 5), "
        "scored AS (SELECT lang, term, df_in, df_out, "
        "    CAST(n AS DOUBLE) "
        "    * CAST(df_in * (n - n_c - df_out) - df_out * (n_c - df_in) AS DOUBLE) "
        "    * CAST(df_in * (n - n_c - df_out) - df_out * (n_c - df_in) AS DOUBLE) "
        "    / (CAST(df_t AS DOUBLE) * CAST(n - df_t AS DOUBLE) "
        "       * CAST(n_c AS DOUBLE) * CAST(n - n_c AS DOUBLE)) AS chi2 "
        "  FROM cells) "
        "SELECT lang, term, df_in, df_out, chi2, rnk FROM ("
        "  SELECT lang, term, df_in, df_out, chi2, ROW_NUMBER() OVER ("
        "    PARTITION BY lang ORDER BY chi2 DESC, term) AS rnk FROM scored) "
        "WHERE rnk <= 10"
    ),
)
def text_chi2_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-squared feature selection: the 10 terms most associated with
    each language by the 2x2 contingency chi2 — the classic
    vocabulary-selection pass before training a lightweight classifier
    (language ID, quality, topic) over the corpus.

    chi2 = N (ad - bc)^2 / ((a+b)(c+d)(a+c)(b+d)) where a = class docs
    containing the term, d = other docs without it.  All four cells
    derive from EXACT bigint document-frequency counts; ad - bc
    (|.| <= N^2 ~ 2.5e11 at sf0.1, well inside int64) is computed as a
    bigint and only then converted, so the float part is a FIXED tree
    of correctly-rounded multiplies/divides over exactly-converted
    operands — bit-identical in both engines, making the per-class
    (chi2 DESC, term) ranking total and stable.  Terms with df < 5 or
    df > N-5 are filtered by spec (degenerate margins).

    Scale shape: one distinct (doc, lang, term) projection (the
    presence relation), then everything is vocabulary-bounded: df and
    per-class df aggregates, a |classes|-row broadcast, and a top-10
    window over |classes| x |vocab| scored rows.  No corpus-sized join
    anywhere — the fact table is touched exactly once."""
    docs = load_table(spark, sf_dir, "documents")
    dt = docs.select(
        "doc_id", "lang", F.explode(F.split("text", " ")).alias("term")
    ).distinct()
    n = docs.agg(F.count("*").alias("n"))
    nc = docs.groupBy("lang").agg(F.count("*").alias("n_c"))
    dft = dt.groupBy("term").agg(F.count("*").alias("df_t"))
    dftc = dt.groupBy("lang", "term").agg(F.count("*").alias("df_in"))
    cells = (
        dftc.join(dft, "term")
        .join(F.broadcast(nc), "lang")
        .crossJoin(F.broadcast(n))
        .filter((F.col("df_t") >= 5) & (F.col("df_t") <= F.col("n") - 5))
        .select(
            "lang",
            "term",
            "df_in",
            (F.col("df_t") - F.col("df_in")).alias("df_out"),
            "n_c",
            "df_t",
            "n",
        )
    )
    adbc = F.col("df_in") * (F.col("n") - F.col("n_c") - F.col("df_out")) - F.col(
        "df_out"
    ) * (F.col("n_c") - F.col("df_in"))
    chi2 = (
        F.col("n").cast("double")
        * adbc.cast("double")
        * adbc.cast("double")
        / (
            F.col("df_t").cast("double")
            * (F.col("n") - F.col("df_t")).cast("double")
            * F.col("n_c").cast("double")
            * (F.col("n") - F.col("n_c")).cast("double")
        )
    )
    w = Window.partitionBy("lang").orderBy(F.desc("chi2"), F.asc("term"))
    return (
        cells.select("lang", "term", "df_in", "df_out", chi2.alias("chi2"))
        .select("lang", "term", "df_in", "df_out", "chi2", F.row_number().over(w).alias("rnk"))
        .filter(F.col("rnk") <= 10)
    )


_COLL_MIN_COUNT = 5  # bigram support floor
_COLL_TOPN = 30


@query(
    "x_text_collocations",
    category="llm_text",
    oracle=(
        "WITH al AS (SELECT doc_id, "
        "  list_filter(string_split(text, ' '), x -> x <> '') AS a FROM documents), "
        "ex AS (SELECT a[i] AS w1, a[i + 1] AS w2 "
        "       FROM al, unnest(range(1, len(a))) AS t(i)), "
        "uni AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS c FROM "
        "        (SELECT unnest(a) AS tok FROM al) GROUP BY 1), "
        "tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n_tok FROM uni), "
        "big AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c_xy FROM ex GROUP BY 1, 2), "
        "nb AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_big FROM ex), "
        "scored AS ("
        f"  SELECT b.w1, b.w2, b.c_xy, "
        "    CAST(((CAST(10000 AS HUGEINT) * b.c_xy * t.n_tok) "
        "      // (CAST(nb.n_big AS HUGEINT) * u1.c)) * t.n_tok // u2.c "
        "    AS BIGINT) AS lift_bp "
        "  FROM big b JOIN uni u1 ON b.w1 = u1.tok JOIN uni u2 ON b.w2 = u2.tok "
        f"  CROSS JOIN tot t CROSS JOIN nb WHERE b.c_xy >= {_COLL_MIN_COUNT}) "
        "SELECT w1, w2, c_xy, lift_bp, rnk FROM ("
        "  SELECT w1, w2, c_xy, lift_bp, row_number() OVER ("
        "    ORDER BY lift_bp DESC, w1, w2) AS rnk FROM scored) "
        f"WHERE rnk <= {_COLL_TOPN}"
    ),
)
def text_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining: adjacent-bigram lift (the exp(PMI) rational,
    in basis points) over the corpus, top-30 — the 'new york' /
    'machine learning' detector every tokenizer-vocabulary and
    phrase-mining pass runs before training.

    lift = P(xy) / (P(x)P(y)) = c_xy * N_tok^2 / (N_big * c_x * c_y);
    log(lift) is PMI, and log is monotone, so ranking on lift IS
    ranking on PMI while staying transcendental-free (the x_rank_bm25
    discipline).  The rational is evaluated as a STAGED integer floor
    division — (10^4 * c_xy * N_tok // (N_big * c_x)) * N_tok // c_y —
    with the raw products routed through DECIMAL(38,0)/HUGEINT
    (10^4 * c_xy * N_tok reaches ~1e23 at web-scale token counts, far
    past int64; the staged quotients come back as bigints), and both
    engines floor identical positive operands (Spark DIV truncates,
    DuckDB // floors; equal on non-negatives).

    Scale shape: bigrams come from zip_with over the token array —
    ZERO shuffle to generate; then three hash aggregates (bigram
    counts, unigram counts, two scalar totals) and a scored join whose
    left side is already support-filtered (c_xy >= 5 prunes the long
    tail BEFORE the unigram joins).  The totals are 1-row broadcasts;
    the unigram table joins as a dictionary — at 100 TB this is the
    canonical two-level agg + dictionary-join plan, no all-pairs
    anywhere."""
    al = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.filter(F.split("text", " "), lambda x: x != "").alias("a"),
    )
    n = F.size("a")
    ex = al.select(
        F.explode(
            F.zip_with(
                F.slice("a", 1, n - 1),
                F.slice("a", 2, n - 1),
                lambda x, y: F.struct(x.alias("w1"), y.alias("w2")),
            )
        ).alias("p")
    ).select("p.w1", "p.w2")
    uni = (
        al.select(F.explode("a").alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("c"))
    )
    tot = uni.agg(F.sum("c").alias("n_tok"))
    big = ex.groupBy("w1", "w2").agg(F.count("*").alias("c_xy"))
    nb = ex.agg(F.count("*").alias("n_big"))
    lift_bp = F.expr(
        "CAST(CAST(CAST(10000 AS DECIMAL(38,0)) * c_xy * n_tok "
        "DIV (CAST(n_big AS DECIMAL(38,0)) * c1) AS DECIMAL(38,0)) "
        "* n_tok DIV c2 AS BIGINT)"
    )
    scored = (
        big.filter(F.col("c_xy") >= _COLL_MIN_COUNT)
        .join(uni.select(F.col("tok").alias("w1"), F.col("c").alias("c1")), "w1")
        .join(uni.select(F.col("tok").alias("w2"), F.col("c").alias("c2")), "w2")
        .crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(nb))
        .select("w1", "w2", "c_xy", lift_bp.alias("lift_bp"))
    )
    w = Window.orderBy(F.desc("lift_bp"), F.asc("w1"), F.asc("w2"))
    return (
        scored.select("w1", "w2", "c_xy", "lift_bp", F.row_number().over(w).alias("rnk"))
        .filter(F.col("rnk") <= _COLL_TOPN)
    )


_RRF_K = 60  # the standard RRF smoothing constant
_RRF_TOPN = 20


@query(
    "x_rank_rrf",
    category="llm_text",
    oracle=(
        "WITH " + BM25_RANKED_SQL + ", "
        "e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings), "
        "q AS (SELECT emb AS q_emb FROM e WHERE vec_id = 0), "
        "dsc AS (SELECT e.vec_id AS doc_id, "
        "        round(list_cosine_similarity(e.emb, q.q_emb), 6) AS sim "
        "        FROM e CROSS JOIN q WHERE e.vec_id <> 0), "
        "dr AS (SELECT doc_id, rnk_dense FROM ("
        "  SELECT doc_id, row_number() OVER (ORDER BY sim DESC, doc_id) AS rnk_dense "
        f"  FROM dsc) WHERE rnk_dense <= {_RRF_TOPN}), "
        "fused AS (SELECT COALESCE(s.doc_id, d.doc_id) AS doc_id, "
        "  s.rnk AS rnk_sparse, d.rnk_dense, "
        f"  CAST(COALESCE(1000000000 // (60 + s.rnk), 0) "
        f"     + COALESCE(1000000000 // (60 + d.rnk_dense), 0) AS BIGINT) AS rrf_ppb "
        "  FROM bm25ranked s FULL OUTER JOIN dr d ON s.doc_id = d.doc_id) "
        "SELECT doc_id, rnk_sparse, rnk_dense, rrf_ppb, "
        "row_number() OVER (ORDER BY rrf_ppb DESC, doc_id) AS fused_rnk FROM fused"
    ),
)
def rank_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval via reciprocal-rank fusion: the BM25 top-20
    (sparse, x_rank_bm25's exact list) fused with a dense cosine top-20
    against the query embedding (vec_id 0, excluded from its own
    result), RRF score = sum over lists of 1/(60 + rank) — the
    standard two-tower + lexical union every RAG stack ships.

    Determinism: ranks are integers, and the RRF score is computed in
    PARTS-PER-BILLION integer arithmetic — 10^9 // (60 + rank) — so
    fusion never touches a float; a list that misses a doc contributes
    COALESCE 0, and the fused ordering tie-breaks on doc_id.  Both
    engines divide identical positive integers.

    Scale shape: both arms are already top-k-bounded retrieval
    pipelines (BM25's dictionary-pushdown aggregate; one corpus scan of
    |Q|=1 cosines with a rank-20 cut), so the fusion itself is a FULL
    OUTER JOIN of two 20-row lists — driver-trivial at any corpus
    size; the corpus-sized work is exactly the two arms, each
    independently scale-audited under its own key."""
    from ..functions.vectors import cosine

    sparse = rank_bm25(spark, sf_dir).select(
        "doc_id", F.col("rnk").alias("rnk_sparse")
    )
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    q = e.filter(F.col("vec_id") == 0).select(F.col("emb").alias("q_emb"))
    dsc = (
        e.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select(
            F.col("vec_id").alias("doc_id"),
            F.round(cosine(F.col("emb"), F.col("q_emb")), 6).alias("sim"),
        )
    )
    wd = Window.orderBy(F.desc("sim"), F.asc("doc_id"))
    dense = (
        dsc.select("doc_id", F.row_number().over(wd).alias("rnk_dense"))
        .filter(F.col("rnk_dense") <= _RRF_TOPN)
    )
    fused = sparse.join(dense, "doc_id", "full_outer").select(
        "doc_id",
        "rnk_sparse",
        "rnk_dense",
        (
            F.coalesce(
                F.expr(f"1000000000 DIV ({_RRF_K} + rnk_sparse)"), F.lit(0)
            )
            + F.coalesce(
                F.expr(f"1000000000 DIV ({_RRF_K} + rnk_dense)"), F.lit(0)
            )
        ).cast("long").alias("rrf_ppb"),
    )
    wf = Window.orderBy(F.desc("rrf_ppb"), F.asc("doc_id"))
    return fused.select(
        "doc_id",
        "rnk_sparse",
        "rnk_dense",
        "rrf_ppb",
        F.row_number().over(wf).alias("fused_rnk"),
    )


@query(
    "x_eval_rank_corr",
    category="llm_text",
    oracle=(
        "WITH " + BM25_RANKED_SQL + ", "
        "tfagg AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS tscore "
        "  FROM tf GROUP BY 1), "
        "tfranked AS (SELECT doc_id, rnk_tf FROM ("
        "  SELECT doc_id, row_number() OVER (ORDER BY tscore DESC, doc_id) "
        "  AS rnk_tf FROM tfagg) WHERE rnk_tf <= 20), "
        "common AS (SELECT b.doc_id, b.rnk AS r_bm, t.rnk_tf "
        "  FROM bm25ranked b JOIN tfranked t USING (doc_id)), "
        "rr AS (SELECT row_number() OVER (ORDER BY r_bm) AS ra, "
        "  row_number() OVER (ORDER BY rnk_tf) AS rb FROM common) "
        "SELECT CAST(COUNT(*) AS BIGINT) AS n_common, "
        "  CAST(SUM((ra - rb) * (ra - rb)) AS BIGINT) AS sum_d2, "
        "  CAST(CASE WHEN COUNT(*) >= 2 THEN 1000000 - "
        "    (6000000 * SUM((ra - rb) * (ra - rb))) "
        "    // (COUNT(*) * (COUNT(*) * COUNT(*) - 1)) END AS BIGINT) AS rho_ppm "
        "FROM rr"
    ),
)
def eval_rank_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking-agreement diagnostic: Spearman rank correlation (exact
    integer ppm) between the BM25 top-20 and the raw term-frequency
    top-20 over the same query terms — the 'is the cheap ranker good
    enough?' readout that decides whether a first-stage retriever can
    skip idf/length normalization.  Both lists rank the same matched
    candidate pool, so the intersection is large by construction
    (contrast rankings over unrelated signals, where rank correlation
    over a near-empty intersection is noise).

    Spearman on the common set: each side re-ranked 1..n within the
    intersection, rho = 1 - 6*sum(d^2) / (n(n^2-1)) evaluated entirely
    in bigint ppm floor-division — no floats.  Degenerate n < 2 yields
    NULL identically in both engines.

    Scale shape: both arms reuse the BM25 chain's (doc, term) tf
    aggregate (term-dictionary pushdown bounds it), the rank windows
    run over <= 20-row lists, and the final aggregate is one row."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
    tf = (
        toks.filter(F.col("term").isin(_BM25_TERMS))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    tfagg = tf.groupBy("doc_id").agg(F.sum("tf").alias("tscore"))
    wt = Window.orderBy(F.desc("tscore"), F.asc("doc_id"))
    tfranked = (
        tfagg.select("doc_id", F.row_number().over(wt).alias("rnk_tf"))
        .filter(F.col("rnk_tf") <= 20)
    )
    common = (
        rank_bm25(spark, sf_dir)
        .select("doc_id", F.col("rnk").alias("r_bm"))
        .join(tfranked, "doc_id")
    )
    rr = common.select(
        F.row_number().over(Window.orderBy("r_bm")).alias("ra"),
        F.row_number().over(Window.orderBy("rnk_tf")).alias("rb"),
    )
    d2 = (F.col("ra") - F.col("rb")) * (F.col("ra") - F.col("rb"))
    return rr.agg(
        F.count("*").alias("n_common"), F.sum(d2).alias("sum_d2")
    ).select(
        "n_common",
        "sum_d2",
        F.expr(
            "CAST(CASE WHEN n_common >= 2 THEN 1000000 - (6000000 * sum_d2) "
            "DIV (n_common * (n_common * n_common - 1)) END AS BIGINT)"
        ).alias("rho_ppm"),
    )


@query(
    "x_text_readability",
    category="llm_text",
    oracle=(
        "WITH m AS (SELECT doc_id, "
        "  CAST(length(regexp_replace(text, '[^a-zA-Z0-9]', '', 'g')) AS BIGINT) "
        "    AS n_letters, "
        "  CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) "
        "    AS n_words, "
        "  CAST(GREATEST(length(text) - length(replace(replace(replace(text, "
        "    '.', ''), '!', ''), '?', '')), 1) AS BIGINT) AS n_sents "
        "  FROM documents WHERE len(list_filter(string_split(text, ' '), "
        "    x -> x <> '')) > 0) "
        "SELECT doc_id, n_letters, n_words, n_sents, "
        "0.0588 * (100.0 * n_letters / n_words) "
        "- 0.296 * (100.0 * n_sents / n_words) - 15.8 AS cli "
        "FROM m"
    ),
)
def text_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Coleman-Liau readability index per document — the classic
    grade-level estimate built ONLY from letter/word/sentence counts
    (no syllable dictionary), here chosen over Flesch-Kincaid exactly
    because its formula is LINEAR: 0.0588*L - 0.296*S - 15.8 with L =
    letters per 100 words and S = sentences per 100 words is one fixed
    IEEE tree over exact integer counts — deterministic across engines,
    where syllable heuristics would not be.  A standard feature in
    quality-filter stacks alongside x_text_quality's ratios.

    Sentences are terminal-punctuation counts (. ! ?) floored at 1 so
    fragment docs don't divide by zero; empty docs are excluded
    identically in both engines.  One projection pass, zero shuffles."""
    docs = load_table(spark, sf_dir, "documents")
    n_words = F.size(F.filter(F.split("text", " "), lambda x: x != ""))
    n_letters = F.length(F.regexp_replace("text", "[^a-zA-Z0-9]", ""))
    n_sents = F.greatest(
        F.length("text")
        - F.length(
            F.replace(
                F.replace(F.replace(F.col("text"), F.lit("."), F.lit("")), F.lit("!"), F.lit("")),
                F.lit("?"),
                F.lit(""),
            )
        ),
        F.lit(1),
    )
    m = docs.filter(n_words > 0).select(
        "doc_id",
        n_letters.cast("long").alias("n_letters"),
        n_words.cast("long").alias("n_words"),
        n_sents.cast("long").alias("n_sents"),
    )
    cli = (
        0.0588 * (100.0 * F.col("n_letters") / F.col("n_words"))
        - 0.296 * (100.0 * F.col("n_sents") / F.col("n_words"))
        - 15.8
    )
    return m.select("doc_id", "n_letters", "n_words", "n_sents", cli.alias("cli"))


_KW_TOPN = 3  # keywords per document
_KW_MIN_DF = 2  # drop hapax terms (noise) before weighting


@query(
    "x_text_keywords",
    category="llm_text",
    oracle=(
        "WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term "
        "  FROM documents), "
        "tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf "
        "  FROM toks WHERE term <> '' GROUP BY 1, 2), "
        "df AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1), "
        "n AS (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs FROM tf), "
        "wgt AS (SELECT tf.doc_id, tf.term, "
        f"  tf.tf * (1000000 * n.n_docs // df.df) AS w "
        "  FROM tf JOIN df USING (term) CROSS JOIN n "
        f"  WHERE df.df >= {_KW_MIN_DF}) "
        "SELECT doc_id, term, w AS weight, rnk FROM ("
        "  SELECT doc_id, term, w, row_number() OVER ("
        "    PARTITION BY doc_id ORDER BY w DESC, term) AS rnk FROM wgt) "
        f"WHERE rnk <= {_KW_TOPN}"
    ),
)
def text_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document keyword extraction: top-3 terms by tf x micro-idf —
    the tagging/routing pass that labels every document before topic
    bucketing or index boosting (text_tf_topterms profiles LANGUAGES;
    this labels DOCUMENTS).  idf is the log-free integer rational
    10^6 * N // df (log is monotone, so the per-term ranking is
    unchanged — the x_rank_bm25 discipline), weights are exact
    bigints, and the per-doc top-3 is a (weight desc, term) total
    order, fully hash-checkable.

    Scale shape: one tokenize aggregate to (doc, term) tf, a
    vocabulary-sized df dictionary joined back hint-free (raw-token
    vocabularies keep growing at web scale — urls, hashes, typos — so
    AQE broadcasts the dictionary only while it fits, exactly as the
    x_basket_lift item-support join), and a
    WindowGroupLimit top-3 per doc — at 100 TB the only corpus-sized
    jobs are the tf aggregate and the final per-doc window, both
    partitioned on doc_id.  The df >= 2 floor drops hapax noise before
    any join work."""
    toks = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.explode(F.split("text", " ")).alias("term")
    )
    tf = (
        toks.filter(F.col("term") != "")
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    df = tf.groupBy("term").agg(F.count("*").alias("df")).filter(
        F.col("df") >= _KW_MIN_DF
    )
    n = tf.agg(F.countDistinct("doc_id").alias("n_docs"))
    wgt = (
        tf.join(df, "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            (F.col("tf") * F.expr("1000000 * n_docs DIV df")).alias("w"),
        )
    )
    win = Window.partitionBy("doc_id").orderBy(F.desc("w"), F.asc("term"))
    return (
        wgt.select(
            "doc_id", "term", F.col("w").alias("weight"),
            F.row_number().over(win).alias("rnk"),
        )
        .filter(F.col("rnk") <= _KW_TOPN)
    )


# -- bigram language-model likelihood scoring ---------------------------

_LM_MICRO = 1_000_000


@query(
    "x_text_lm_score",
    category="llm_text",
    oracle=(
        "WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents), "
        "bg AS (SELECT doc_id, w[i] AS a, w[i+1] AS b "
        "       FROM t, LATERAL (SELECT unnest(range(1, len(w))) AS i) r "
        "       WHERE len(w) >= 2), "
        "c2 AS (SELECT a, b, CAST(COUNT(*) AS BIGINT) AS c2 FROM bg GROUP BY 1, 2), "
        "c1 AS (SELECT a, CAST(COUNT(*) AS BIGINT) AS c1 FROM bg GROUP BY 1), "
        "v AS (SELECT CAST(COUNT(DISTINCT tok) AS BIGINT) AS v "
        "      FROM (SELECT unnest(w) AS tok FROM t)), "
        f"d AS (SELECT a, b, {_LM_MICRO} * (c2 + 1) // (c1 + v) AS p_micro "
        "      FROM c2 JOIN c1 USING (a) CROSS JOIN v), "
        "s AS (SELECT doc_id, p_micro FROM bg JOIN d USING (a, b)) "
        "SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams, "
        "CAST(SUM(p_micro) // COUNT(*) AS BIGINT) AS lm_micro "
        "FROM s GROUP BY doc_id"
    ),
)
def text_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical quality scoring by corpus-trained bigram language
    model: every document is scored by the mean add-one-smoothed bigram
    probability p(b|a) = (c(a,b) + 1) / (c(a) + V) of its own token
    transitions — the classic LM-likelihood quality filter (low scores
    flag token salad, OCR noise, and boilerplate with improbable
    transitions; the micro-scaled integer rational replaces log
    perplexity, which orders documents identically for a fixed-length
    comparison because the arithmetic mean of probabilities and their
    sum are monotone-related — the x_rank_bm25 log-free discipline).

    Scale shape: train and score in ONE dataflow with no driver round
    trip.  Bigram counts c(a,b) and left-context counts c(a) are
    vocabulary-bounded aggregates; the probability dictionary is built
    with vocabulary-sized joins plus a whitelisted 1-row V scalar
    broadcast, and the only corpus-sized job is the single equi-join of
    bigram occurrences against that dictionary followed by the per-doc
    rollup.  Everything is exact integer arithmetic, so the score is
    partition-invariant and hash-checkable."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("w")
    )
    bg = (
        docs.filter(F.size("w") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(w) - 1), "
                    "i -> struct(element_at(w, i) AS a, element_at(w, i + 1) AS b))"
                )
            ).alias("e"),
        )
        .select("doc_id", "e.a", "e.b")
    )
    c2 = bg.groupBy("a", "b").agg(F.count("*").alias("c2"))
    c1 = bg.groupBy("a").agg(F.count("*").alias("c1"))
    v = docs.select(F.explode("w").alias("tok")).agg(
        F.countDistinct("tok").alias("v")
    )
    d = (
        c2.join(c1, "a")
        .crossJoin(F.broadcast(v))
        .select(
            "a", "b",
            F.expr(f"{_LM_MICRO} * (c2 + 1) DIV (c1 + v)").alias("p_micro"),
        )
    )
    return (
        bg.join(d, ["a", "b"])
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_bigrams"),
            F.expr("CAST(sum(p_micro) DIV count(*) AS BIGINT)").alias("lm_micro"),
        )
    )


# -- feature hashing (the hashing-trick vectorizer) ----------------------

_FH_DIM = 64  # hashed feature dimension


@query(
    "x_feature_hashing",
    category="llm_text",
    oracle=(
        "WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term "
        "  FROM documents), "
        f"h AS (SELECT doc_id, {hex_int_duck('md5(term)', 1, 6)} AS hv "
        "  FROM toks WHERE term <> ''), "
        f"sgn AS (SELECT doc_id, hv % {_FH_DIM} AS idx, "
        f"  CASE WHEN (hv // {_FH_DIM}) % 2 = 0 THEN 1 ELSE -1 END AS sg FROM h) "
        "SELECT doc_id, CAST(idx AS BIGINT) AS idx, "
        "CAST(SUM(sg) AS BIGINT) AS weight "
        "FROM sgn GROUP BY 1, 2 HAVING SUM(sg) <> 0"
    ),
)
def feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature hashing (the hashing trick, Weinberger et al. ICML'09):
    every token maps to one of 64 feature slots by md5 (no vocabulary
    pass, no dictionary to broadcast — the property that makes it THE
    featurizer for unbounded vocabularies at 100 TB), with a second
    hash bit giving the +/-1 sign whose cancellation keeps hashed
    inner products unbiased.  Output is the sparse (doc, slot, weight)
    triple stream; exact-zero cells (full cancellation) are dropped
    identically on both engines.

    Scale shape: pure projection (tokenize + hash, JVM codegen) into
    ONE hash aggregate on (doc_id, slot) — map-side partials absorb
    repeated tokens; nothing is vocabulary-sized anywhere, which is
    the entire point of the trick."""
    toks = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.explode(F.split("text", " ")).alias("term")
    ).filter(F.col("term") != "")
    hv = hex_int(F.md5("term"), 1, 6)
    sgn = toks.select("doc_id", hv.alias("hv")).select(
        "doc_id",
        F.expr(f"CAST(hv % {_FH_DIM} AS BIGINT)").alias("idx"),
        F.expr(
            f"CASE WHEN (hv DIV {_FH_DIM}) % 2 = 0 THEN 1 ELSE -1 END"
        ).alias("sg"),
    )
    return (
        sgn.groupBy("doc_id", "idx")
        .agg(F.sum("sg").cast("long").alias("weight"))
        .filter(F.col("weight") != 0)
    )


# -- language-ID evaluation ----------------------------------------------


@query(
    "x_eval_langid",
    category="llm_text",
    oracle=(
        "WITH "
        + LANGID_PRED_SQL
        + ", conf AS (SELECT lang, predicted_lang, "
        "  CAST(COUNT(*) AS BIGINT) AS cnt FROM langid_pred GROUP BY 1, 2), "
        "tot AS (SELECT lang, CAST(SUM(cnt) AS BIGINT) AS lang_total "
        "  FROM conf GROUP BY 1) "
        "SELECT c.lang, c.predicted_lang, c.cnt, t.lang_total, "
        "1000000 * c.cnt // t.lang_total AS share_ppm "
        "FROM conf c JOIN tot t USING (lang)"
    ),
)
def eval_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix for the shipped n-gram language identifier
    against the corpus's ground-truth ``lang`` column — the eval a
    curation pipeline runs before trusting langid-based routing or
    filtering (the diagonal's share_ppm IS per-language recall).
    Completes the pattern of evaluating shipped operators on shipped
    data: x_eval_classification does this for the embedding
    classifier, this key does it for the text one.

    Scale shape: rides x_text_langid's broadcast-profile scoring pass;
    the rollup is one hash aggregate to the |langs|^2 grid, totals
    joined back broadcast.  Counts and non-negative ppm floor
    divisions only."""
    pred = text_langid(spark, sf_dir)
    conf = pred.groupBy("lang", "predicted_lang").agg(
        F.count("*").cast("long").alias("cnt")
    )
    tot = conf.groupBy("lang").agg(
        F.sum("cnt").cast("long").alias("lang_total")
    )
    return conf.join(F.broadcast(tot), "lang").select(
        "lang",
        "predicted_lang",
        "cnt",
        "lang_total",
        F.expr("1000000 * cnt DIV lang_total").alias("share_ppm"),
    )


def _pair_clipped_lvl2(
    bg: DataFrame, extra_keys: tuple[str, ...] = ()
) -> DataFrame:
    """THE clipped-overlap core (ROUGE / chrF / BLEU all run through
    this one function — a fix to the pairing or clipping logic can
    never reach one metric and miss another): given the exploded
    per-occurrence gram stream (doc_id[, *extra_keys], g), emit each
    occurrence under BOTH its pair keys — k = doc_id (its doc is the
    pair's CANDIDATE) and k = doc_id - 1 (its doc is pair
    (doc_id-1, doc_id)'s REFERENCE) — then fold twice:
    per-(k, *extra_keys, gram) side multiplicities (map-side partial
    agg compresses occurrences before the only wide shuffle), then
    per-(k, *extra_keys) totals + the clipped overlap
    sum_g(min(c_cand, c_ref)).  ca/cb are >= 0, never null, so
    least() is the true two-sided min: a gram on one side only
    contributes min(c, 0) = 0 — the BLEU/ROUGE clipping rule.
    ``extra_keys`` widens the gram key (BLEU passes ('n',) so all four
    n-gram orders ride one dataflow)."""
    doubled = bg.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("doc_id").cast("long").alias("k"),
                    F.lit(0).alias("side"),
                ),
                F.struct(
                    (F.col("doc_id") - 1).cast("long").alias("k"),
                    F.lit(1).alias("side"),
                ),
            )
        ).alias("ks"),
        *extra_keys,
        "g",
    ).select(
        F.col("ks.k").alias("k"), F.col("ks.side").alias("side"), *extra_keys, "g"
    )
    lvl1 = doubled.groupBy("k", *extra_keys, "g").agg(
        F.count(F.when(F.col("side") == 0, True)).alias("ca"),
        F.count(F.when(F.col("side") == 1, True)).alias("cb"),
    )
    return lvl1.groupBy("k", *extra_keys).agg(
        F.sum("ca").cast("long").alias("na"),
        F.sum("cb").cast("long").alias("nb"),
        F.sum(F.least("ca", "cb")).cast("long").alias("ov"),
    )


def _clipped_pair_metrics(bg: DataFrame, p_alias: str, r_alias: str, f_alias: str,
                          ov_alias: str) -> DataFrame:
    """Shared clipped-count pair-metric core (x_eval_rouge_n /
    x_eval_chrf): given the exploded per-occurrence gram stream
    (doc_id, g), pair every doc with doc_id+1, compute the
    BLEU/ROUGE-clipped overlap sum_g(min(c_cand, c_ref)), and emit
    precision/recall/F1 — each ONE IEEE division of exact integers
    (F1 = 2*ov/(na+nb), the harmonic mean collapsed).

    Dataflow (reworked for VERDICT r8 item 3): the naive form
    self-joins per-doc counts on (adjacent id, gram) and per-doc
    totals on adjacent id — four shuffles of the gram set and four
    recomputes of the explode.  Instead each gram occurrence is
    emitted TWICE — once under pair key k = doc_id (its doc is the
    CANDIDATE of pair (k, k+1)) and once under k = doc_id - 1 (its
    doc is the REFERENCE of pair (k-1+1=k+1... i.e. of pair
    (doc_id-1, doc_id))) — then one hash-aggregate on (k, g) counts
    both sides (map-side partial agg compresses occurrences before
    the only wide shuffle), and a second, |docs|-sized aggregate on k
    folds the per-gram clipped minimum plus both totals.  Pair
    existence falls out for free: na>0 requires doc k to have grams,
    nb>0 requires doc k+1 to — exactly the oracle's inner join of
    adjacent totals.  ONE source scan, no joins, two shuffles, and
    the wide one carries (k, g, side) with g already a compact key
    (packed BIGINT for chrF, xxhash64 of the token slice for ROUGE —
    never a materialized gram string)."""
    lvl2 = _pair_clipped_lvl2(bg)
    return (
        lvl2.filter((F.col("na") > 0) & (F.col("nb") > 0))
        .select(
            F.col("k").alias("doc_cand"),
            (F.col("k") + 1).alias("doc_ref"),
            F.col("ov").alias(ov_alias),
            "na",
            "nb",
            (F.col("ov").cast("double") / F.col("na").cast("double")).alias(p_alias),
            (F.col("ov").cast("double") / F.col("nb").cast("double")).alias(r_alias),
            (
                (2 * F.col("ov")).cast("double")
                / (F.col("na") + F.col("nb")).cast("double")
            ).alias(f_alias),
        )
    )



@query(
    "x_eval_rouge_n",
    category="eval",
    oracle=(
        "WITH al AS (SELECT doc_id, string_split(text, ' ') AS a FROM documents), "
        "bg AS (SELECT doc_id, a[i] || ' ' || a[i + 1] AS g "
        "  FROM al, unnest(range(1, len(a))) AS t(i)), "
        "cnt AS (SELECT doc_id, g, CAST(COUNT(*) AS BIGINT) AS c FROM bg "
        "  GROUP BY 1, 2), "
        "tot AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n FROM cnt GROUP BY 1), "
        "pairs AS (SELECT a.doc_id AS doc_cand, b.doc_id AS doc_ref, "
        "  a.n AS na, b.n AS nb FROM tot a JOIN tot b ON b.doc_id = a.doc_id + 1), "
        "ov AS (SELECT ca.doc_id AS doc_cand, "
        "  CAST(SUM(LEAST(ca.c, cb.c)) AS BIGINT) AS ov "
        "  FROM cnt ca JOIN cnt cb ON cb.doc_id = ca.doc_id + 1 AND ca.g = cb.g "
        "  GROUP BY 1) "
        "SELECT p.doc_cand, p.doc_ref, COALESCE(o.ov, 0) AS overlap_2, "
        "  p.na, p.nb, "
        "  CAST(COALESCE(o.ov, 0) AS DOUBLE) / CAST(p.na AS DOUBLE) "
        "    AS rouge2_prec, "
        "  CAST(COALESCE(o.ov, 0) AS DOUBLE) / CAST(p.nb AS DOUBLE) "
        "    AS rouge2_rec, "
        "  CAST(2 * COALESCE(o.ov, 0) AS DOUBLE) / CAST(p.na + p.nb AS DOUBLE) "
        "    AS rouge2_f1 "
        "FROM pairs p LEFT JOIN ov o ON o.doc_cand = p.doc_cand "
        "WHERE p.na > 0 AND p.nb > 0"
    ),
)
def eval_rouge_n(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROUGE-2 (bigram overlap) between candidate/reference text pairs
    — the n-gram summarization metric (Lin 2004), computed at corpus
    scale with CLIPPED counts (each reference bigram credits at most
    its reference multiplicity, the BLEU/ROUGE clipping rule).  Pairs
    here are (doc_id, doc_id+1) — the deterministic stand-in for a
    keyed (model_output, reference) pairing; the dataflow is identical
    for any equi-keyed pair table.

    Exactness: overlap/na/nb are integer counts; precision = ov/na and
    recall = ov/nb are ONE IEEE division each, and F1 collapses
    algebraically to 2*ov/(na+nb) (harmonic mean of two ratios sharing
    a numerator) — also one division, so all three doubles are bitwise
    engine-identical.  Zero-bigram docs (len < 2) are excluded by the
    na/nb > 0 guard in both engines.

    Scale shape: bigram expansion is a generator over each doc (no
    shuffle), per-doc gram counts partial-aggregate before the
    shuffle, and the clipped-overlap join is equi on (adjacent doc_id,
    gram) — candidate-bounded, never all-pairs; totals join back at
    |docs| rows."""
    # Doc-level spread before the bigram explode — same single-split
    # testdata rationale as x_eval_chrf / x_text_winnow (llm_text.py).
    al = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .repartition(spark.sparkContext.defaultParallelism)
        .select("doc_id", F.split("text", " ").alias("a"))
    )
    # Gram key = xxhash64 of the 2-token slice (not the joined string):
    # the wide (k, g, side) shuffle carries an 8-byte long instead of a
    # materialized bigram string, and no per-occurrence concat runs.
    # Hashing the ARRAY keeps token boundaries in the hash input (no
    # "ab c" vs "a bc" ambiguity).  The outputs are pure counts per
    # gram, so they are identical as long as distinct bigrams within a
    # pair key never collide — the same 64-bit-key argument as
    # x_dedup_span, re-proven bit-identical vs the string-gram form at
    # sf0.001/0.01/0.1 when this was installed (r12).
    bg = al.select(
        "doc_id",
        F.explode(
            F.expr(
                "CASE WHEN size(a) >= 2 THEN transform(sequence(1, size(a) - 1), "
                "i -> xxhash64(slice(a, i, 2))) "
                "ELSE array() END"
            )
        ).alias("g"),
    )
    return _clipped_pair_metrics(
        bg, "rouge2_prec", "rouge2_rec", "rouge2_f1", "overlap_2"
    )


@query(
    "x_eval_wer",
    category="eval",
    oracle=(
        "WITH tk AS (SELECT doc_id, a[i] AS tok, i AS pos "
        "  FROM (SELECT doc_id, string_split(text, ' ') AS a FROM documents), "
        "  unnest(range(1, len(a) + 1)) AS t(i)), "
        "v AS (SELECT tok, 32 + dense_rank() OVER (ORDER BY tok) AS code "
        "  FROM (SELECT DISTINCT tok FROM tk)), "
        "enc AS (SELECT tk.doc_id, string_agg(chr(CAST(v.code AS INT)), '' "
        "  ORDER BY tk.pos) AS s, CAST(COUNT(*) AS BIGINT) AS n "
        "  FROM tk JOIN v ON tk.tok = v.tok GROUP BY 1) "
        "SELECT a.doc_id AS doc_hyp, b.doc_id AS doc_ref, "
        "CAST(levenshtein(a.s, b.s) AS BIGINT) AS dist, "
        "a.n AS len_hyp, b.n AS len_ref, "
        "CAST(levenshtein(a.s, b.s) AS DOUBLE) / CAST(b.n AS DOUBLE) AS wer "
        "FROM enc a JOIN enc b ON b.doc_id = a.doc_id + 1"
    ),
)
def eval_wer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word error rate — TOKEN-level edit distance between hypothesis /
    reference text pairs (the ASR/translation eval metric), computed at
    corpus scale by VOCABULARY CHAR-PACKING: every distinct token maps
    to one char code (32 + dense_rank, deterministic in both engines),
    each document becomes a string with one CHARACTER per token, and
    the built-in char-level levenshtein then IS the token-level edit
    distance — no per-pair dynamic programming in Python.  Pairs are
    (doc_id, doc_id+1), the x_eval_rouge_n pairing convention; WER =
    dist / ref_len is one IEEE division of exact integers.

    Alphabet precondition: Spark's char() wraps codepoints mod 256
    (DuckDB's chr() does not), so the packing is engine-identical only
    for codes <= 255 — vocab <= 223 tokens, guarded by raise_error.
    A larger vocabulary needs a genuine codepoint encoder; the
    pigeonhole-style multi-char code is NOT a valid fallback (char
    alignments can cross code boundaries, under-counting distance).

    Scale shape: tokenize is a generator; the vocab (distinct tokens +
    one tiny rank window) broadcasts; encoding is one ordered
    string_agg per doc; the levenshtein verify is pair-bounded."""
    tk = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "tok")
    )
    v = (
        tk.select("tok")
        .distinct()
        .select(
            "tok",
            (32 + F.dense_rank().over(Window.orderBy("tok"))).alias("code"),
        )
        .filter(
            F.when(F.col("code") <= 255, F.lit(True)).otherwise(
                F.raise_error(
                    F.concat(
                        F.lit("x_eval_wer: vocabulary exceeds the 223-token "
                              "char-packing alphabet at token '"),
                        F.col("tok"),
                        F.lit("'"),
                    )
                )
            )
        )
    )
    enc = (
        tk.join(F.broadcast(v), "tok")
        .select("doc_id", "pos", F.expr("char(code)").alias("ch"))
        .groupBy("doc_id")
        .agg(
            F.concat_ws(
                "",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "ch"))),
                    lambda x: x.ch,
                ),
            ).alias("s"),
            F.count("*").cast("long").alias("n"),
        )
    )
    a = enc.select(
        F.col("doc_id").alias("doc_hyp"), F.col("s").alias("sa"), F.col("n").alias("len_hyp")
    )
    b = enc.select(
        (F.col("doc_id") - 1).alias("doc_hyp"),
        F.col("doc_id").alias("doc_ref"),
        F.col("s").alias("sb"),
        F.col("n").alias("len_ref"),
    )
    d = F.levenshtein("sa", "sb").cast("long")
    return a.join(b, "doc_hyp").select(
        "doc_hyp",
        "doc_ref",
        d.alias("dist"),
        "len_hyp",
        "len_ref",
        (d.cast("double") / F.col("len_ref").cast("double")).alias("wer"),
    )


@query(
    "x_eval_chrf",
    category="eval",
    oracle=(
        "WITH bg AS (SELECT doc_id, substring(text, CAST(i AS INT), 3) AS g "
        "  FROM documents, unnest(range(1, length(text) - 1)) AS t(i)), "
        "cnt AS (SELECT doc_id, g, CAST(COUNT(*) AS BIGINT) AS c FROM bg "
        "  GROUP BY 1, 2), "
        "tot AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n FROM cnt GROUP BY 1), "
        "pairs AS (SELECT a.doc_id AS doc_cand, b.doc_id AS doc_ref, "
        "  a.n AS na, b.n AS nb FROM tot a JOIN tot b ON b.doc_id = a.doc_id + 1), "
        "ov AS (SELECT ca.doc_id AS doc_cand, "
        "  CAST(SUM(LEAST(ca.c, cb.c)) AS BIGINT) AS ov "
        "  FROM cnt ca JOIN cnt cb ON cb.doc_id = ca.doc_id + 1 AND ca.g = cb.g "
        "  GROUP BY 1) "
        "SELECT p.doc_cand, p.doc_ref, COALESCE(o.ov, 0) AS overlap_3, "
        "  p.na, p.nb, "
        "  CAST(COALESCE(o.ov, 0) AS DOUBLE) / CAST(p.na AS DOUBLE) "
        "    AS chrf3_prec, "
        "  CAST(COALESCE(o.ov, 0) AS DOUBLE) / CAST(p.nb AS DOUBLE) "
        "    AS chrf3_rec, "
        "  CAST(2 * COALESCE(o.ov, 0) AS DOUBLE) / CAST(p.na + p.nb AS DOUBLE) "
        "    AS chrf3_f1 "
        "FROM pairs p LEFT JOIN ov o ON o.doc_cand = p.doc_cand "
        "WHERE p.na > 0 AND p.nb > 0"
    ),
)
def eval_chrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """chrF-style CHARACTER n-gram F-score (Popovic 2015) between the
    same candidate/reference pairing as x_eval_rouge_n — the
    tokenizer-free eval that stays meaningful where word metrics break
    (morphology, CJK, noisy spacing).  Single n = 3 here ("chrF3-lite"
    — full chrF averages n = 1..6 and beta-weights recall; the
    dataflow is identical per n, and whitespace is kept in the grams,
    both choices pinned by the shared oracle), clipped counts and the
    one-division precision/recall/F1 from the SAME
    ``_clipped_pair_metrics`` core as ROUGE — one implementation, two
    metrics, so a fix to the clipping logic can never reach one and
    miss the other.

    Gram representation (VERDICT r8 item 3): each trigram is packed
    INJECTIVELY into a BIGINT — three Unicode code points at 21 bits
    each (max code point 0x10FFFF < 2^21), so the packed value is
    cp1*2^42 + cp2*2^21 + cp3 <= (2^21-1)*(2^42+2^21+1) = 2^63 - 1,
    exactly the signed-int64 ceiling.  This is a bijection on
    trigrams, NOT a hash: counts, clips, and therefore every output
    value are bit-identical to the raw-string form (the oracle still
    computes raw substring grams and the driver hash is unchanged),
    while the count/clip shuffles carry 8-byte longs instead of
    variable-width strings.  The text is also split to a char array
    ONCE per document — the previous substring(text, i, 3)-per-i form
    re-scanned the UTF-8 string from the start at every position
    (O(len^2) per doc); transform over element_at on the materialized
    array is O(len).

    Scale shape: identical to x_eval_rouge_n — char-trigram expansion
    is a generator, the overlap join equi on (adjacent id, packed
    gram)."""
    # Doc-level spread BEFORE the trigram explode: the testdata table is
    # a single one-row-group parquet file (one input split would run the
    # whole explode + map-side partial agg on one core); a 100 TB table
    # already arrives as thousands of splits and would skip this.  The
    # shuffle moves 5k raw docs, not the ~200x larger gram stream.
    doc = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .repartition(spark.sparkContext.defaultParallelism)
        .select(
            "doc_id",
            F.expr("transform(split(text, ''), c -> bigint(ascii(c)))").alias("cp"),
        )
    )
    bg = doc.select(
        "doc_id",
        F.explode(
            F.expr(
                "CASE WHEN size(cp) >= 3 THEN transform("
                "sequence(1, size(cp) - 2), i -> "
                "element_at(cp, i) * 4398046511104 "  # 2^42
                "+ element_at(cp, i + 1) * 2097152 "  # 2^21
                "+ element_at(cp, i + 2)) "
                "ELSE array() END"
            )
        ).alias("g"),
    )
    return _clipped_pair_metrics(
        bg, "chrf3_prec", "chrf3_rec", "chrf3_f1", "overlap_3"
    )


@query(
    "x_text_freq_spectrum",
    category="llm_text",
    oracle=(
        "WITH tok AS (SELECT unnest(string_split(text, ' ')) AS tok "
        "  FROM documents), "
        "cnt AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS c FROM tok "
        "  WHERE tok <> '' GROUP BY 1) "
        "SELECT c AS freq, CAST(COUNT(*) AS BIGINT) AS n_types, "
        "  CAST(c * COUNT(*) AS BIGINT) AS token_mass "
        "FROM cnt GROUP BY 1"
    ),
)
def text_freq_spectrum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary FREQUENCY SPECTRUM — for each occurrence count c,
    how many distinct token types occur exactly c times, and how much
    token mass (c x types) that stratum carries.  The LNRE / Zipf
    corpus diagnostic: hapax share (freq = 1) predicts OOV rate and
    vocabulary growth, a heavy high-freq head flags boilerplate, and
    a dent in the mid-range flags over-aggressive dedup — the 30-row
    summary a pretraining-corpus review reads before any model sees
    the data.  Exact integers end-to-end (counts of counts), so the
    oracle hash-matches trivially.

    Scale shape: the wordcount hash-aggregate is the only corpus-wide
    shuffle (map-side partials compress occurrences); the spectrum is
    a second aggregate over |vocab| rows that collapses to at most a
    few hundred distinct counts.  The doc-level repartition spreads
    the token explode off the single-split testdata file (standard
    pattern, skipped implicitly by multi-split tables at scale)."""
    tok = (
        load_table(spark, sf_dir, "documents")
        .select("text")
        .repartition(spark.sparkContext.defaultParallelism)
        .select(F.explode(F.split("text", " ")).alias("tok"))
        .filter(F.col("tok") != "")
    )
    cnt = tok.groupBy("tok").agg(F.count("*").cast("long").alias("c"))
    return (
        cnt.groupBy("c")
        .agg(F.count("*").cast("long").alias("n_types"))
        .select(
            F.col("c").alias("freq"),
            "n_types",
            (F.col("c") * F.col("n_types")).cast("long").alias("token_mass"),
        )
    )


@query(
    "x_eval_bleu_components",
    category="eval",
    oracle=(
        "WITH al AS (SELECT doc_id, string_split(text, ' ') AS a "
        "  FROM documents), "
        "gr AS (SELECT doc_id, n, g FROM al, "
        "  unnest([1, 2, 3, 4]) AS nn(n), "
        "  unnest(list_transform(range(1, greatest(len(a) - n + 1, 0) + 1), "
        "    i -> array_to_string(a[i:i+n-1], ' '))) AS gg(g)), "
        "cnt AS (SELECT doc_id, n, g, CAST(COUNT(*) AS BIGINT) AS c "
        "  FROM gr GROUP BY 1, 2, 3), "
        "tot AS (SELECT doc_id, n, CAST(SUM(c) AS BIGINT) AS t "
        "  FROM cnt GROUP BY 1, 2), "
        "p AS (SELECT a.doc_id AS doc_cand, b.doc_id AS doc_ref, "
        "  MAX(a.t) FILTER (WHERE a.n = 1) AS na1, "
        "  MAX(a.t) FILTER (WHERE a.n = 2) AS na2, "
        "  MAX(a.t) FILTER (WHERE a.n = 3) AS na3, "
        "  MAX(a.t) FILTER (WHERE a.n = 4) AS na4, "
        "  MAX(b.t) FILTER (WHERE a.n = 1) AS nb1, "
        "  MAX(b.t) FILTER (WHERE a.n = 4) AS nb4 "
        "  FROM tot a JOIN tot b ON b.doc_id = a.doc_id + 1 AND b.n = a.n "
        "  GROUP BY 1, 2), "
        "ovt AS (SELECT ca.doc_id AS doc_cand, ca.n AS n, "
        "  CAST(SUM(LEAST(ca.c, cb.c)) AS BIGINT) AS ov "
        "  FROM cnt ca JOIN cnt cb ON cb.doc_id = ca.doc_id + 1 "
        "  AND cb.n = ca.n AND cb.g = ca.g GROUP BY 1, 2), "
        "ovp AS (SELECT doc_cand, "
        "  COALESCE(MAX(ov) FILTER (WHERE n = 1), 0) AS ov1, "
        "  COALESCE(MAX(ov) FILTER (WHERE n = 2), 0) AS ov2, "
        "  COALESCE(MAX(ov) FILTER (WHERE n = 3), 0) AS ov3, "
        "  COALESCE(MAX(ov) FILTER (WHERE n = 4), 0) AS ov4 "
        "  FROM ovt GROUP BY 1) "
        "SELECT p.doc_cand, p.doc_ref, p.na1 AS cand_len, p.nb1 AS ref_len, "
        "  COALESCE(o.ov1, 0) AS ov1, COALESCE(o.ov2, 0) AS ov2, "
        "  COALESCE(o.ov3, 0) AS ov3, COALESCE(o.ov4, 0) AS ov4, "
        "  CAST((1000000 * CAST(COALESCE(o.ov1, 0) AS HUGEINT) "
        "    * COALESCE(o.ov2, 0) * COALESCE(o.ov3, 0) * COALESCE(o.ov4, 0)) "
        "    // (CAST(p.na1 AS HUGEINT) * p.na2 * p.na3 * p.na4) AS BIGINT) "
        "    AS bleu_pow4_ppm, "
        "  CAST(1000000 * p.nb1 // p.na1 AS BIGINT) AS bp_ratio_ppm, "
        "  CAST(CASE WHEN p.na1 < p.nb1 THEN 1 ELSE 0 END AS BIGINT) "
        "    AS brevity_penalized "
        "FROM p LEFT JOIN ovp o USING (doc_cand) "
        "WHERE p.na4 > 0 AND p.nb4 > 0"
    ),
)
def eval_bleu_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BLEU-4 SUFFICIENT STATISTICS (Papineni et al. 2002) between the
    same (doc_id, doc_id+1) candidate/reference pairing as
    x_eval_rouge_n / x_eval_chrf — completing the MT-eval family with
    the canonical metric.  Per pair: clipped n-gram overlaps ov_n and
    denominators for n = 1..4, the exact modified-precision product
    bleu_pow4_ppm = 1e6 * (ov1*ov2*ov3*ov4) / (na1*na2*na3*na4)
    (= 1e6 * BLEU^4 before the brevity penalty, one floor division of
    exact integers), the brevity ratio ref_len/cand_len in ppm, and
    the penalized? flag.  The final BLEU = (components)^(1/4) * BP
    needs exp/4th-root — libm calls that are NOT bit-portable across
    engines — so, exactly like the lm-score operators emit log-free
    scores, this emits the exact integer sufficient statistics and
    leaves the last non-portable float op to the consumer; rankings by
    bleu_pow4 and by BLEU agree wherever BP ties (both monotone).
    No smoothing: any ov_n = 0 zeroes the product, the untreated
    Papineni definition (pinned by the shared oracle).

    Dataflow: the chrF/ROUGE doubled-stream discipline with the gram
    key widened to (n, gram) — each of the 4 n-gram streams is
    generated in ONE pass over the token array (nested higher-order
    transform, no per-n rescan) with each gram keyed by xxhash64 of
    the token slice (an 8-byte shuffle key in place of a joined
    up-to-4-token string; bit-identical outputs re-proven vs the
    string-gram form at all three SFs), every occurrence is emitted under
    both its pair keys, one wide (k, n, g) hash-aggregate counts both
    sides, a (k, n) fold produces totals + clipped overlaps, and a
    final |pairs|-sized pivot collapses n to columns.  One source
    scan, two shuffles, no joins.  The big-integer product routes
    through DECIMAL(38,0) on Spark / HUGEINT on DuckDB (the pinned
    rule; ~1e5-token docs put 1e6*len^4 near 1e26, far past int64).
    Pairs where either side has < 4 tokens are excluded (na4/nb4 = 0)
    in both engines."""
    al = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .repartition(spark.sparkContext.defaultParallelism)
        .select("doc_id", F.split("text", " ").alias("a"))
    )
    gr = (
        al.select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(array(1, 2, 3, 4), n -> struct(n AS n, "
                    "CASE WHEN size(a) >= n THEN transform("
                    "sequence(1, size(a) - n + 1), "
                    "i -> xxhash64(slice(a, i, n))) "
                    "ELSE array() END AS gs))"
                )
            ).alias("t"),
        )
        .select("doc_id", F.col("t.n").alias("n"), F.explode("t.gs").alias("g"))
    )
    lvl2 = _pair_clipped_lvl2(gr, ("n",))

    def _piv(col: str, n: int) -> F.Column:
        return F.coalesce(
            F.max(F.when(F.col("n") == n, F.col(col))), F.lit(0).cast("long")
        )

    piv = lvl2.groupBy("k").agg(
        *[_piv("na", i).alias(f"na{i}") for i in (1, 2, 3, 4)],
        *[_piv("nb", i).alias(f"nb{i}") for i in (1, 4)],
        *[_piv("ov", i).alias(f"ov{i}") for i in (1, 2, 3, 4)],
    )
    return (
        piv.filter((F.col("na4") > 0) & (F.col("nb4") > 0))
        .select(
            F.col("k").alias("doc_cand"),
            (F.col("k") + 1).alias("doc_ref"),
            F.col("na1").alias("cand_len"),
            F.col("nb1").alias("ref_len"),
            "ov1",
            "ov2",
            "ov3",
            "ov4",
            F.expr(
                "CAST((1000000 * CAST(ov1 AS DECIMAL(38,0)) * ov2 * ov3 * ov4) "
                "DIV (CAST(na1 AS DECIMAL(38,0)) * na2 * na3 * na4) AS BIGINT)"
            ).alias("bleu_pow4_ppm"),
            F.expr("CAST(1000000 * nb1 DIV na1 AS BIGINT)").alias("bp_ratio_ppm"),
            F.when(F.col("na1") < F.col("nb1"), 1)
            .otherwise(0)
            .cast("long")
            .alias("brevity_penalized"),
        )
    )
