"""Training-data text queries, round 3 batch 2: exact substring-level
dedup (chunk granularity), PII redaction, and TF-IDF keyword extraction.

Same contract as queries/text.py: every entry ships a Spark plan plus a
bit-identical DuckDB oracle; doubles only ever reach the output through
floor(x * 1e6) so value-hashes compare exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import text
from ..functions.barrier import eval_once


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


# -- chunk-level exact dedup ---------------------------------------------------
# Exact-substring deduplication at fixed chunk granularity (the tractable
# distributed form of Lee et al. 2021 "Deduplicating Training Data Makes
# Language Models Better" / CCNet's paragraph dedup): split every document
# into non-overlapping CHUNK_W-word chunks, keep each distinct chunk's FIRST
# corpus occurrence (min (doc_id, pos)), and reassemble documents from their
# surviving chunks. 100 TB plan shape: one explode, one groupBy(chunk) with
# map-side partial min() (a boilerplate chunk repeated in 10^8 docs costs one
# combiner row per map task, not a hot reduce key), one equi-join back (AQE
# skew-split handles residual stragglers), one groupBy(doc) reassembly.
# Nothing sorts globally; nothing touches the driver.
CHUNK_W = 10
# (doc_id, pos) packed into one BIGINT so the winner is a plain min() —
# cheaper on the shuffle than a struct min and expressible identically in
# DuckDB. pos < 2^20 words/CHUNK_W is guaranteed by the filter below.
_POS_PACK = 1 << 20


def q_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = eval_once(
        _docs(spark, sf_dir).withColumn("ws", text.words(F.col("text"))), ["ws"]
    )
    n = F.size("ws")
    k = F.floor((n + F.lit(CHUNK_W - 1)) / F.lit(CHUNK_W)).cast("int")
    chunks = F.when(
        n > 0,
        F.transform(
            F.sequence(F.lit(0), k - 1),
            lambda i: F.concat_ws(
                " ", F.slice("ws", i * CHUNK_W + 1, CHUNK_W)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    base = df.select("doc_id", k.alias("n_chunks"), chunks.alias("chunks"))
    ch = base.select(
        "doc_id", F.posexplode("chunks").alias("pos", "chunk")
    ).withColumn(
        "okey", F.col("doc_id") * F.lit(_POS_PACK) + F.col("pos")
    )
    win = ch.groupBy("chunk").agg(F.min("okey").alias("wkey"))
    kept = ch.join(win, "chunk").filter(F.col("okey") == F.col("wkey"))
    agg = kept.groupBy("doc_id").agg(
        F.count("*").cast("int").alias("n_kept"),
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "chunk"))),
                lambda s: s["chunk"],
            ),
        ).alias("text_kept"),
    )
    return base.select("doc_id", "n_chunks").join(agg, "doc_id", "left").select(
        "doc_id",
        "n_chunks",
        F.coalesce("n_kept", F.lit(0)).cast("int").alias("n_kept"),
        F.coalesce("text_kept", F.lit("")).alias("text_kept"),
    )


def _sql_chunk_dedup() -> str:
    ws = text.words_sql("text")
    w = CHUNK_W
    return (
        f"WITH ws AS (SELECT doc_id, {ws} AS w FROM documents), "
        "base AS (SELECT doc_id, w,"
        f" CAST(ceil(len(w) / {w}.0) AS INT) AS k FROM ws), "
        "ch AS (SELECT doc_id, unnest(range(0, k)) AS pos,"
        " unnest(list_transform(range(0, k),"
        f" i -> array_to_string(list_slice(w, i*{w}+1, i*{w}+{w}), ' ')))"
        " AS chunk FROM base), "
        f"win AS (SELECT chunk, min(doc_id * {_POS_PACK} + pos) AS wkey"
        " FROM ch GROUP BY chunk), "
        "kept AS (SELECT ch.doc_id, ch.pos, ch.chunk FROM ch"
        " JOIN win ON ch.chunk = win.chunk"
        f" WHERE ch.doc_id * {_POS_PACK} + ch.pos = win.wkey), "
        "agg AS (SELECT doc_id, CAST(count(*) AS INT) AS n_kept,"
        " string_agg(chunk, ' ' ORDER BY pos) AS text_kept"
        " FROM kept GROUP BY doc_id) "
        "SELECT b.doc_id, b.k AS n_chunks, coalesce(a.n_kept, 0) AS n_kept,"
        " coalesce(a.text_kept, '') AS text_kept"
        " FROM base b LEFT JOIN agg a ON b.doc_id = a.doc_id"
    )


# -- PII redaction -------------------------------------------------------------
# The C4/RefinedWeb scrub step: replace emails, phone numbers, and IPv4
# addresses with typed placeholder tokens and count redactions per document.
# Pure projection — no shuffle, embarrassingly parallel, regexes evaluated
# JVM-side (no Python). The driver's synthetic documents carry no PII, so the
# query derives a deterministic PII-bearing suffix from doc_id first (both
# engines build the identical string); in production the scrub runs on the
# raw text column directly. Patterns are written to the Java-regex /
# RE2 common subset (character classes, bounded quantifiers, \b) so Spark
# and DuckDB match identically; counts are taken SEQUENTIALLY (emails on the
# raw text, phones after email removal, IPs after phone removal) so no span
# is double-counted.
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_RE = r"\+1-555-[0-9]{4}"
IP_RE = r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"


def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    s0 = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or call +1-555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        F.lit(" from 10."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit(".0.1"),
    )
    df = eval_once(docs.withColumn("s0", s0), ["s0"])
    df = eval_once(
        df.withColumn("n_emails", F.regexp_count("s0", F.lit(EMAIL_RE)))
        .withColumn("s1", F.regexp_replace("s0", EMAIL_RE, "<EMAIL>")),
        ["s1"],
    )
    df = eval_once(
        df.withColumn("n_phones", F.regexp_count("s1", F.lit(PHONE_RE)))
        .withColumn("s2", F.regexp_replace("s1", PHONE_RE, "<PHONE>")),
        ["s2"],
    )
    return df.select(
        "doc_id",
        F.col("n_emails").cast("int").alias("n_emails"),
        F.col("n_phones").cast("int").alias("n_phones"),
        F.regexp_count("s2", F.lit(IP_RE)).cast("int").alias("n_ips"),
        F.regexp_replace("s2", IP_RE, "<IP>").alias("scrubbed"),
    )


def _sql_pii_scrub() -> str:
    return (
        "WITH t AS (SELECT doc_id,"
        " text || ' contact user' || CAST(doc_id AS VARCHAR)"
        " || '@example.com or call +1-555-'"
        " || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')"
        " || ' from 10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.1' AS s0"
        " FROM documents), "
        "a AS (SELECT doc_id,"
        f" len(regexp_extract_all(s0, '{EMAIL_RE}')) AS n_emails,"
        f" regexp_replace(s0, '{EMAIL_RE}', '<EMAIL>', 'g') AS s1 FROM t), "
        "b AS (SELECT doc_id, n_emails,"
        f" len(regexp_extract_all(s1, '{PHONE_RE}')) AS n_phones,"
        f" regexp_replace(s1, '{PHONE_RE}', '<PHONE>', 'g') AS s2 FROM a) "
        "SELECT doc_id, CAST(n_emails AS INT) AS n_emails,"
        " CAST(n_phones AS INT) AS n_phones,"
        f" CAST(len(regexp_extract_all(s2, '{IP_RE}')) AS INT) AS n_ips,"
        f" regexp_replace(s2, '{IP_RE}', '<IP>', 'g') AS scrubbed FROM b"
    )


# -- TF-IDF keyword extraction -------------------------------------------------
# Top-3 terms per document by tf·idf, idf = ln(N/df). 100 TB plan: explode →
# (doc, term) count with map-side partial agg, term document-frequency from
# the already-aggregated tf table (never re-touches raw tokens), corpus size
# joined in as a broadcast scalar (stays one lazy plan — no driver action),
# then the engine's hash-agg top-k (operators/knn.top_k_agg: no global sort,
# no window). Determinism across engines: candidates are ordered by the
# FLOOR-SCALED integer score (ties broken by term asc), so a sub-ULP ln()
# divergence between Java's Math.log and DuckDB's libm can only matter if a
# score lands within 1e-6 of a floor boundary AND crosses it — and the
# emitted score column is the same integer, so output hashing is exact.
TFIDF_K = 3


def q_tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.knn import top_k_agg

    df = eval_once(
        _docs(spark, sf_dir).withColumn("ws", text.words(F.col("text"))), ["ws"]
    )
    tok = df.select("doc_id", F.explode("ws").alias("term"))
    tf = tok.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    total = _docs(spark, sf_dir).agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(total))
        .select(
            "doc_id",
            "term",
            "tf",
            "df",
            F.floor(
                F.col("tf").cast("double")
                * F.log(F.col("n_docs").cast("double") / F.col("df").cast("double"))
                * F.lit(1.0e6)
            ).cast("long").alias("score_e6"),
        )
        .withColumn("neg_score", -F.col("score_e6"))
    )
    top = top_k_agg(
        scored, "doc_id", dist_col="neg_score", tie_col="term", k=TFIDF_K,
        payload_cols=["tf", "df", "score_e6"],
    )
    return top.select(
        "doc_id", "term",
        F.col("tf").cast("int").alias("tf"),
        F.col("df").cast("int").alias("df"),
        "score_e6",
    )


def _sql_tfidf_topterms() -> str:
    ws = text.words_sql("text")
    return (
        f"WITH ws AS (SELECT doc_id, {ws} AS w FROM documents), "
        "tok AS (SELECT doc_id, unnest(w) AS term FROM ws), "
        "tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2), "
        "dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1), "
        "tot AS (SELECT count(*) AS n_docs FROM documents), "
        "sc AS (SELECT doc_id, term, tf, df,"
        " CAST(floor(CAST(tf AS DOUBLE)"
        " * ln(CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE)) * 1.0e6)"
        " AS BIGINT) AS score_e6 FROM tf JOIN dfq USING (term) CROSS JOIN tot), "
        "rk AS (SELECT sc.*, row_number() OVER (PARTITION BY doc_id"
        " ORDER BY score_e6 DESC, term ASC) AS r FROM sc) "
        "SELECT doc_id, term, CAST(tf AS INT) AS tf, CAST(df AS INT) AS df,"
        f" score_e6 FROM rk WHERE r <= {TFIDF_K}"
    )


# -- phash similarity search (hamming top-k) -----------------------------------
# The image-modality twin of ann_cosine_topk: for each probe image, the 5
# nearest corpus images by perceptual-hash hamming distance. Same broadcast-Q
# shape as similarity.cosine_topk — the corpus NEVER shuffles: probes (tiny)
# broadcast to every partition, bit_count(xor) is one codegen'd instruction
# pair per candidate, and the engine's hash-agg top-k caps per probe with no
# global sort. For all-pairs near-dup (no probe set) use dedup.phash_near_dup's
# banded join instead; this operator is the search-API shape (query-by-image).
# phash derivation: the same deterministic stand-in as dedup_phash
# (queries/text._derived_phash_col) — in production this is the input_hint's
# phash:int64 column on the image table.
PHASH_PROBE_MOD = 53
PHASH_TOPK = 5


def q_phash_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.knn import top_k_agg
    from .text import _derived_phash_col

    docs = _docs(spark, sf_dir).select(
        "doc_id", _derived_phash_col().alias("phash")
    )
    probes = docs.filter(F.col("doc_id") % PHASH_PROBE_MOD == 0).select(
        F.col("doc_id").alias("qid"), F.col("phash").alias("qph")
    )
    pairs = docs.join(
        F.broadcast(probes), F.col("doc_id") != F.col("qid")
    ).select(
        "qid",
        F.col("doc_id").alias("cand_id"),
        F.bit_count(F.col("phash").bitwiseXOR(F.col("qph")))
        .cast("int").alias("hamming"),
    )
    top = top_k_agg(pairs, "qid", dist_col="hamming", tie_col="cand_id",
                    k=PHASH_TOPK)
    return top.select("qid", "cand_id", "hamming")


def _sql_phash_topk() -> str:
    from .text import _derived_phash_sql

    return (
        f"WITH d AS (SELECT doc_id, {_derived_phash_sql()} AS phash"
        " FROM documents), "
        "q AS (SELECT doc_id AS qid, phash AS qph FROM d"
        f" WHERE doc_id % {PHASH_PROBE_MOD} = 0), "
        "p AS (SELECT qid, d.doc_id AS cand_id,"
        " CAST(bit_count(xor(d.phash, qph)) AS INT) AS hamming"
        " FROM d JOIN q ON d.doc_id != q.qid) "
        "SELECT qid, cand_id, hamming FROM (SELECT p.*, row_number() OVER ("
        " PARTITION BY qid ORDER BY hamming ASC, cand_id ASC) AS r FROM p) t"
        f" WHERE r <= {PHASH_TOPK}"
    )


# -- token-offset sharding (GPT-style corpus chunking) ------------------------
# Pretraining tokenization streams documents per source/language, concatenates
# them, and cuts fixed-token-budget shards regardless of doc boundaries
# (GPT-2/3 data prep; Megatron's indexed dataset build). The distributed form:
# per-language running token offset (window cumsum), shard = the budget block
# containing the document's FIRST token. Plan: one shuffle on lang + an
# ordered window per lang partition. At 10^12 docs a single window per
# language is skewed (en ≫ others) — production splits the stream key into
# (lang, ingest-day) — a salted key; the
# window algebra is unchanged, so the per-lang form is what the oracle pins.
TOKEN_BUDGET = 2048  # tokens per shard


def q_token_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = eval_once(
        _docs(spark, sf_dir).withColumn(
            "n_tokens", text.token_count(F.col("text"))
        ),
        ["n_tokens"],
    )
    w = (
        Window.partitionBy("lang").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    start = F.coalesce(F.sum("n_tokens").over(w), F.lit(0)).cast("long")
    return docs.select(
        "doc_id", "lang", "n_tokens",
        start.alias("start_tok"),
        F.floor(start / F.lit(TOKEN_BUDGET)).cast("long").alias("shard_id"),
    )


def _sql_token_shards() -> str:
    nt = text.token_count_sql("text")
    return (
        f"WITH d AS (SELECT doc_id, lang, CAST({nt} AS INT) AS n_tokens"
        " FROM documents), "
        "o AS (SELECT doc_id, lang, n_tokens,"
        " CAST(coalesce(sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id"
        " ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)"
        " AS start_tok FROM d) "
        "SELECT doc_id, lang, n_tokens, start_tok,"
        f" CAST(floor(start_tok / {TOKEN_BUDGET}) AS BIGINT) AS shard_id"
        " FROM o"
    )


QUERIES = {
    "chunk_dedup": (q_chunk_dedup, _sql_chunk_dedup()),
    "pii_scrub": (q_pii_scrub, _sql_pii_scrub()),
    "tfidf_topterms": (q_tfidf_topterms, _sql_tfidf_topterms()),
    "phash_topk": (q_phash_topk, _sql_phash_topk()),
    "token_shards": (q_token_shards, _sql_token_shards()),
}


# -- unigram LM cross-entropy quality score -----------------------------------
# The CCNet / Wenzek et al. 2020 quality signal: score each document by the
# per-token cross-entropy under a unigram language model, keep the low-
# perplexity "head". CCNet uses a pre-trained KenLM; the distributed analogue
# here trains the unigram model on the corpus itself in pass 1 (token →
# count / total) and scores in pass 2. 100 TB plan shape: ONE corpus explode
# feeding (a) the vocab groupBy (map-side combine; vocab ≪ corpus) and (b)
# the scoring join — the vocab rides a BROADCAST join so the token stream
# never shuffles for scoring, and the per-doc reduce happens map-side (a
# broadcast join preserves partitioning, so each doc's tokens are still
# co-located from the pre-explode row). Numeric contract: each word's
# log-prob is floored to integer nano-units BEFORE the per-doc sum, so the
# aggregation is exact BIGINT arithmetic — order-independent, engine-exact
# (the one transcendental, ln, is computed once per VOCAB word on identical
# double inputs in both engines — the same parity contract tfidf_topterms
# pins).
CE_KEEP_E6 = 3_420_000  # keep docs with cross-entropy ≤ 3.42 nats/token
# (median 3.4015 on the driver corpus — splits head from repetitive tail)


def q_lm_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    toks = eval_once(
        docs.withColumn("ws", text.words(F.col("text"))), ["ws"]
    ).select("doc_id", F.explode("ws").alias("w"))
    vocab = toks.groupBy("w").agg(F.count("*").alias("c"))
    total = toks.agg(F.count("*").alias("nt"))
    vp = vocab.crossJoin(F.broadcast(total)).select(
        "w",
        F.floor(
            F.log(F.col("c").cast("double") / F.col("nt").cast("double"))
            * F.lit(1.0e9)
        ).cast("long").alias("logp_e9"),
    )
    per_doc = (
        toks.join(F.broadcast(vp), "w")
        .groupBy("doc_id")
        .agg(
            F.sum("logp_e9").alias("sum_e9"),
            F.count("*").alias("n_tokens"),
        )
    )
    return per_doc.select(
        "doc_id",
        F.col("n_tokens").cast("int").alias("n_tokens"),
        F.floor(
            -F.col("sum_e9").cast("double")
            / F.col("n_tokens").cast("double") / F.lit(1.0e3)
        ).cast("long").alias("ce_e6"),
        (
            F.floor(
                -F.col("sum_e9").cast("double")
                / F.col("n_tokens").cast("double") / F.lit(1.0e3)
            ).cast("long") <= F.lit(CE_KEEP_E6)
        ).alias("keep"),
    )


def _sql_lm_quality() -> str:
    ws = text.words_sql("text")
    return (
        f"WITH ws AS (SELECT doc_id, {ws} AS w FROM documents), "
        "toks AS (SELECT doc_id, unnest(w) AS w FROM ws), "
        "v AS (SELECT w, count(*) AS c FROM toks GROUP BY w), "
        "tot AS (SELECT count(*) AS nt FROM toks), "
        "vp AS (SELECT w, CAST(floor(ln(CAST(c AS DOUBLE) / CAST(nt AS DOUBLE))"
        " * 1.0e9) AS BIGINT) AS logp_e9 FROM v CROSS JOIN tot), "
        "s AS (SELECT doc_id, sum(logp_e9) AS sum_e9, count(*) AS n_tokens"
        " FROM toks JOIN vp USING (w) GROUP BY doc_id) "
        "SELECT doc_id, CAST(n_tokens AS INT) AS n_tokens,"
        " CAST(floor(-CAST(sum_e9 AS DOUBLE) / CAST(n_tokens AS DOUBLE)"
        " / 1.0e3) AS BIGINT) AS ce_e6,"
        " CAST(floor(-CAST(sum_e9 AS DOUBLE) / CAST(n_tokens AS DOUBLE)"
        f" / 1.0e3) AS BIGINT) <= {CE_KEEP_E6} AS keep"
        " FROM s"
    )


QUERIES["lm_quality"] = (q_lm_quality, _sql_lm_quality())


# ---------------------------------------------------------------------------
# bpe_pairs — BPE tokenizer training, step one: adjacent-symbol pair counts
# ---------------------------------------------------------------------------
# The first (and per-merge repeated) operation of byte-pair-encoding
# tokenizer training: count adjacent CHARACTER pairs across the corpus —
# the argmax pair becomes the next merge rule. Within-word pairs only
# (the standard pre-tokenized setup; no </w> marker — documented
# convention), so the count table is bounded by alphabet², not corpus
# size. token_count measures tokens; this trains the tokenizer that
# defines them.
#
# Scale shape: words explode map-side off the documents scan (already the
# engine's cheapest explode family), each word emits len-1 pair rows via
# a second lateral sequence, then ONE hash-agg with map-side combine onto
# the alphabet²-bounded key space — at 100 TB the combine collapses
# virtually everything before the shuffle (a few thousand distinct keys
# per task). No joins, no windows.
BPE_MIN_COUNT = 5  # drop the noise tail (rule stated in both engines)


def q_bpe_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    w = docs.select(
        F.explode(text.words(F.col("text"))).alias("w")
    ).where(F.length("w") > 1)  # sequence(1, 0) DESCENDS in Spark — a
    #                             1-char word would emit phantom pairs
    pairs = w.select(
        F.explode(
            F.expr("sequence(1, length(w) - 1)")
        ).alias("i"), "w",
    ).select(
        F.substring(F.col("w"), F.col("i").cast("int"), 1)
        .alias("a"),
        F.expr("substring(w, i + 1, 1)").alias("b"),
    )
    return (
        pairs.groupBy("a", "b")
        .agg(F.count("*").alias("cnt"))
        .where(F.col("cnt") >= F.lit(BPE_MIN_COUNT))
    )


def _sql_bpe_pairs() -> str:
    ws = text.words_sql("text")
    return (
        f"WITH w AS (SELECT unnest({ws}) AS w FROM documents), "
        f"p AS (SELECT substr(w, i, 1) AS a, substr(w, i + 1, 1) AS b"
        f" FROM w, unnest(range(1, len(w))) t(i) WHERE len(w) > 1) "
        f"SELECT a, b, CAST(count(*) AS BIGINT) AS cnt FROM p"
        f" GROUP BY a, b HAVING count(*) >= {BPE_MIN_COUNT}"
    )


QUERIES["bpe_pairs"] = (q_bpe_pairs, _sql_bpe_pairs())
