"""Text-analysis queries over documents, with DuckDB oracles mirroring
the exact arithmetic (ratios are integer divisions -> bit-identical)."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from fmx.operators import multimodal as M
from fmx.operators import text as X
from fmx.queries import query
from fmx.sources import load_table as T

_EN = "['" + "', '".join(X.STOPWORDS["en"]) + "']"
BIG = "bigint"
DEC = "decimal(38,0)"
_SW = {lang: "['" + "', '".join(ws) + "']" for lang, ws in X.STOPWORDS.items()}


@query(
    "text_stats",
    headline=True,
    oracle=f"""
    WITH base AS (
      SELECT doc_id, text, string_split(text, ' ') AS t,
             length(text) AS nc FROM documents)
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(nc AS BIGINT) AS n_chars,
           CAST(len(t) AS BIGINT) AS n_tokens,
           round((nc - (len(t) - 1)) * 1.0 / len(t), 6) AS avg_token_len,
           round(len(list_filter(t, x -> list_contains({_EN}, x))) * 1.0
                 / len(t), 6) AS stopword_ratio,
           round(len(regexp_extract_all(text, '[^a-zA-Z0-9 ]')) * 1.0 / nullif(nc, 0), 6)
               AS punct_ratio,
           round(len(regexp_extract_all(text, '[0-9]')) * 1.0 / nullif(nc, 0), 6)
               AS digit_ratio
    FROM base
    """)
def text_stats(spark, sf):
    """Per-document token statistics (length/punct/stopword ratios)."""
    return X.token_stats(T(spark, sf, "documents"), "doc_id", "text")


@query(
    "text_quality",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, text, string_split(text, ' ') AS t,
             length(text) AS nc FROM documents),
    stats AS (
      SELECT doc_id,
             CAST(len(t) AS BIGINT) AS n_tokens,
             round(len(list_filter(t, x -> list_contains({_EN}, x))) * 1.0
                   / len(t), 6) AS stopword_ratio,
             round(len(regexp_extract_all(text, '[^a-zA-Z0-9 ]')) * 1.0 / nullif(nc, 0), 6)
                 AS punct_ratio,
             round(len(regexp_extract_all(text, '[0-9]')) * 1.0 / nullif(nc, 0), 6)
                 AS digit_ratio
      FROM base)
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           round(least(1.0, greatest(0.0,
               0.2 * ln(n_tokens + 1) + 2.0 * stopword_ratio
               - 3.0 * punct_ratio - 2.0 * digit_ratio)), 6) AS quality
    FROM stats
    """)
def text_quality(spark, sf):
    """Rule-based quality score in [0,1] (C4/Gopher-filter family)."""
    return X.quality_score(T(spark, sf, "documents"), "doc_id", "text")


def _langid_oracle() -> str:
    score = {lang: f"len(list_filter(t, x -> list_contains({_SW[lang]}, x))) * 1.0 / len(t)"
             for lang in X.STOPWORDS}
    rounded = ", ".join(
        f"round({score[lang]}, 6) AS score_{lang}" for lang in sorted(X.STOPWORDS))
    return f"""
    WITH base AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           {rounded},
           CASE WHEN {score['en']} >= {score['de']}
                 AND {score['en']} >= {score['es']}
                 AND {score['en']} >= {score['fr']} THEN 'en'
                WHEN {score['de']} >= {score['es']}
                 AND {score['de']} >= {score['fr']} THEN 'de'
                WHEN {score['es']} >= {score['fr']} THEN 'es'
                ELSE 'fr' END AS pred_lang
    FROM base
    """


@query("text_language_id", oracle=_langid_oracle())
def text_language_id(spark, sf):
    """Stopword-overlap language ID with fixed tie priority."""
    return X.language_id(T(spark, sf, "documents"), "doc_id", "text")


@query(
    "text_token_counts",
    oracle=f"""
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
           CAST(len(regexp_extract_all(text, '{X.BPE_RE}')) AS BIGINT)
               AS bpe_tokens
    FROM documents
    """)
def text_token_counts(spark, sf):
    """Whitespace + BPE-ish pre-token counts."""
    return X.token_counts(T(spark, sf, "documents"), "doc_id", "text")


@query(
    "text_fingerprint",
    oracle=r"""
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g')))
               AS fingerprint
    FROM documents
    """)
def text_fingerprint(spark, sf):
    """Normalized-content md5 fingerprint."""
    return X.fingerprint(T(spark, sf, "documents"), "doc_id", "text")


@query(
    "multimodal_payload_stats",
    oracle="""
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           'blob' AS kind,
           CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
           md5(text) AS payload_md5
    FROM documents
    """)
def multimodal_payload_stats(spark, sf):
    """Multimodal metadata scan: binary payload column + typed meta;
    the payload bytes are hashed, never parsed."""
    from pyspark.sql import functions as F

    mm = M.attach_payload(T(spark, sf, "documents"), "doc_id", "text")
    return mm.select(
        "doc_id",
        F.col("meta.kind").alias("kind"),
        F.col("meta.byte_len").alias("byte_len"),
        F.md5("payload").alias("payload_md5"))


@query(
    "multimodal_features",
    # The byte-histogram featurizer is deterministic, so the mapInPandas
    # path IS oracle-checkable: the docs are ASCII (verified: encode()
    # length == char length at every SF), so per-character ascii() % 8
    # replays the byte histogram; the REAL cast replicates numpy's
    # float32 division before the shared round(_, 6).
    oracle="""
    WITH bytes AS (
      SELECT doc_id, ascii(substring(text, i, 1)) % 8 AS b
      FROM documents,
           LATERAL (SELECT unnest(generate_series(1, length(text))) AS i) g
    ),
    hist AS (
      SELECT doc_id,
             sum(CASE WHEN b = 0 THEN 1 ELSE 0 END) AS h0,
             sum(CASE WHEN b = 1 THEN 1 ELSE 0 END) AS h1,
             count(*) AS total
      FROM bytes GROUP BY doc_id
    )
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(total AS BIGINT) AS byte_len,
           round(CAST(CAST(CAST(h0 AS DOUBLE) / total AS REAL) AS DOUBLE),
                 6) AS f0,
           round(CAST(CAST(CAST(h1 AS DOUBLE) / total AS REAL) AS DOUBLE),
                 6) AS f1
    FROM hist
    """)
def multimodal_features(spark, sf):
    """Arrow-batched feature extraction over binary payloads
    (mapInPandas; deterministic byte-histogram stand-in featurizer —
    deterministic enough that DuckDB replays it, converting the former
    rows-only driver row to hash-checked)."""
    from pyspark.sql import functions as F

    mm = M.attach_payload(T(spark, sf, "documents"), "doc_id", "text")
    out = M.extract_features(mm, "doc_id", dim=8)
    return out.select(
        F.col("id").alias("doc_id"), "byte_len",
        F.round(F.element_at("feature", 1).cast("double"), 6).alias("f0"),
        F.round(F.element_at("feature", 2).cast("double"), 6).alias("f1"))


@query(
    "text_vocab_topk",
    oracle="""
    WITH toks AS (SELECT unnest(string_split(text, ' ')) AS token
                  FROM documents),
    counts AS (SELECT token, CAST(count(*) AS BIGINT) AS cnt
               FROM toks WHERE token <> '' GROUP BY token),
    topk AS (SELECT token, cnt FROM counts
             ORDER BY cnt DESC, token LIMIT 50)
    SELECT token, cnt,
           CAST(row_number() OVER (ORDER BY cnt DESC, token) AS BIGINT)
               AS rank
    FROM topk
    """)
def text_vocab_topk(spark, sf):
    """Corpus vocabulary: top-50 tokens by frequency (vocab building);
    one explode + hash-agg then TakeOrderedAndProject — k rows to the
    driver, never a full sort."""
    return X.vocab_topk(T(spark, sf, "documents"), "text", k=50)


@query(
    "text_perplexity",
    oracle="""
    WITH base AS (SELECT doc_id, string_split(text, ' ') AS t
                  FROM documents),
    zipped AS (SELECT doc_id,
                      unnest(list_zip(t[:len(t) - 1], t[2:])) AS z
               FROM base),
    bigr AS (SELECT doc_id, z[1] AS w1, z[2] AS w2 FROM zipped),
    big_c AS (SELECT w1, w2, count(*) AS cb FROM bigr GROUP BY w1, w2),
    ctx_c AS (SELECT w1, count(*) AS cc FROM bigr GROUP BY w1),
    vocab AS (SELECT count(DISTINCT tok) AS v
              FROM (SELECT unnest(t) AS tok FROM base)),
    scored AS (SELECT b.doc_id,
                      ln((cb + 0.5) / (cc + 0.5 * v)) AS lp
               FROM bigr b
               JOIN big_c USING (w1, w2)
               JOIN ctx_c USING (w1)
               CROSS JOIN vocab)
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           round(sum(lp) / count(*), 6) AS avg_logp,
           round(exp(-sum(lp) / count(*)), 4) AS ppl
    FROM scored GROUP BY doc_id
    """)
def text_perplexity(spark, sf):
    """Corpus-LM quality scoring: per-document perplexity under an
    add-0.5-smoothed bigram model trained on the corpus itself.  The
    model is vocabulary-bounded state (two hash-aggs), bigram
    extraction is in-row array slice+zip (no positional self-join), so
    the plan scales to a trillion-row corpus."""
    return X.bigram_perplexity(T(spark, sf, "documents"), "doc_id", "text")


@query(
    "text_contamination",
    oracle="""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t
                  FROM documents),
    sh0 AS (SELECT DISTINCT doc_id,
                   array_to_string(t[i:i+7], ' ') AS shingle
            FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t) - 7))
                                AS i) g
            WHERE len(t) >= 8),
    -- replay the operator's max_df=1000 hot-shingle guard on each side
    ck AS (SELECT shingle FROM sh0 GROUP BY shingle
           HAVING count(*) <= 1000),
    sh AS (SELECT sh0.* FROM sh0 JOIN ck USING (shingle)),
    ev0 AS (SELECT * FROM sh0 WHERE doc_id < 20),
    ek AS (SELECT shingle FROM ev0 GROUP BY shingle
           HAVING count(*) <= 1000),
    ev AS (SELECT ev0.* FROM ev0 JOIN ek USING (shingle)),
    ev_sizes AS (SELECT doc_id, count(*) AS n_ev FROM ev GROUP BY doc_id),
    shared AS (SELECT c.doc_id AS corpus_id, e.doc_id AS eval_id,
                      CAST(count(*) AS BIGINT) AS n_shared
               FROM sh c JOIN ev e ON c.shingle = e.shingle
                                  AND c.doc_id <> e.doc_id
               GROUP BY c.doc_id, e.doc_id)
    SELECT CAST(corpus_id AS BIGINT) AS corpus_id,
           CAST(eval_id AS BIGINT) AS eval_id, n_shared,
           round(n_shared * 1.0 / n_ev, 6) AS eval_coverage
    FROM shared JOIN ev_sizes ON eval_id = ev_sizes.doc_id
    """)
def text_contamination(spark, sf):
    """Benchmark decontamination: 8-gram overlap between the corpus and
    an eval set (doc_id < 20 as the stand-in benchmark) — shingle
    equi-join, never corpus x eval."""
    from pyspark.sql import functions as F

    docs = T(spark, sf, "documents")
    return X.ngram_contamination(
        docs, docs.filter(F.col("doc_id") < 20), "doc_id", "text", n=8)


@query(
    "text_repetition",
    oracle="""
    WITH toks AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
      FROM documents),
    uni AS (SELECT doc_id, tok, count(*) AS c
            FROM (SELECT doc_id, unnest(t) AS tok FROM toks)
            GROUP BY doc_id, tok),
    u AS (SELECT doc_id, max(c) AS top_c, sum(c) AS n_tok,
                 count(*) AS n_distinct
          FROM uni GROUP BY doc_id),
    big AS (SELECT doc_id, w, count(*) AS c
            FROM (SELECT doc_id, t[i] || ' ' || t[i + 1] AS w
                  FROM toks, LATERAL (SELECT unnest(generate_series(1,
                                      greatest(len(t) - 1, 0))) AS i) g)
            GROUP BY doc_id, w),
    b AS (SELECT doc_id, max(c) AS top_b, sum(c) AS n_big
          FROM big GROUP BY doc_id)
    SELECT CAST(u.doc_id AS BIGINT) AS doc_id,
           round(top_c / n_tok, 6) AS top_word_frac,
           round((n_tok - n_distinct) / n_tok, 6) AS dup_word_frac,
           round(top_b / n_big, 6) AS top_bigram_frac
    FROM u LEFT JOIN b ON u.doc_id = b.doc_id
    """)
def text_repetition(spark, sf):
    """Gopher-style repetition quality filters: top-word, duplicate-word
    and top-bigram fractions per document — explode + hash-aggs, linear
    in corpus tokens."""
    return X.repetition_stats(T(spark, sf, "documents"), "doc_id", "text")


CHUNK, STRIDE = 16, 12

@query(
    "text_chunking",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
      FROM documents)
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(s // {STRIDE} AS BIGINT) AS chunk_id,
           CAST(len(list_slice(t, s + 1, least(s + {CHUNK}, len(t))))
                AS BIGINT) AS n_tokens,
           array_to_string(list_slice(t, s + 1, least(s + {CHUNK}, len(t))),
                           ' ') AS chunk_text
    FROM toks, LATERAL (SELECT unnest(generate_series(0, len(t) - 1,
                                      {STRIDE})) AS s) g
    WHERE len(t) > 0
    """)
def text_chunking(spark, sf):
    """Context-window chunking: overlapping 16-token windows with stride
    12 per document — map-only explode of a per-row sequence, zero
    shuffles at any corpus size."""
    return X.chunk_tokens(T(spark, sf, "documents"), "doc_id", "text",
                          chunk_size=CHUNK, stride=STRIDE)


REDACT_ROWS = [
    (1, "contact me at john.doe@example.com or visit "
        "https://example.com/page?id=123456789 today"),
    (2, "call 1234567890 or 123456789012 now"),
    (3, "no pii here just words"),
    (4, "mixed bob@test.org and http://x.io/a and 999999999"),
]

_REDACT_VALUES = ", ".join(
    "(%d, '%s')" % (i, s) for i, s in REDACT_ROWS)

@query(
    "text_redaction",
    oracle=("""
    WITH fixture(doc_id, text) AS (VALUES """ + _REDACT_VALUES + """),
    step1 AS (SELECT doc_id,
                     regexp_replace(text, '@EMAIL@', '<EMAIL>', 'g') AS t1,
                     CAST(len(regexp_extract_all(text, '@EMAIL@')) AS BIGINT)
                         AS n_emails
              FROM fixture),
    step2 AS (SELECT doc_id, n_emails,
                     regexp_replace(t1, '@URL@', '<URL>', 'g') AS t2,
                     CAST(len(regexp_extract_all(t1, '@URL@')) AS BIGINT)
                         AS n_urls
              FROM step1)
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           regexp_replace(t2, '@NUM@', '<NUM>', 'g') AS redacted,
           n_emails, n_urls,
           CAST(len(regexp_extract_all(t2, '@NUM@')) AS BIGINT) AS n_longnums
    FROM step2
    """).replace("@EMAIL@", X.EMAIL_RE).replace("@URL@", X.URL_RE)
        .replace("@NUM@", X.LONGNUM_RE))
def text_redaction(spark, sf):
    """PII redaction pass (emails / URLs / long digit runs) over a fixed
    inline fixture — regexp column expressions, RE2-compatible so the
    oracle replays them; order (email -> url -> num) prevents
    double-counting digits inside URLs."""
    df = spark.createDataFrame(REDACT_ROWS, "doc_id long, text string")
    return X.redact_text(df, "doc_id", "text")


@query(
    "text_tfidf_top_terms",
    oracle="""
    WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token
                  FROM documents),
    tf AS (SELECT doc_id, token, count(*) AS tf
           FROM toks WHERE token <> '' GROUP BY doc_id, token),
    dfreq AS (SELECT token, count(*) AS dfq FROM tf GROUP BY token),
    n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (SELECT doc_id, token, tf,
                      round(tf * ln(CAST((SELECT n_docs FROM n) AS DOUBLE)
                                    / dfq), 9) AS s
               FROM tf JOIN dfreq USING (token))
    SELECT CAST(doc_id AS BIGINT) AS doc_id, token,
           CAST(tf AS BIGINT) AS tf, round(s, 6) AS tfidf,
           CAST(row_number() OVER (PARTITION BY doc_id
                                   ORDER BY s DESC, token) AS BIGINT)
               AS term_rank
    FROM scored
    QUALIFY term_rank <= 3
    """)
def text_tfidf_top_terms(spark, sf):
    """Top-3 characteristic terms per document by tf-idf — the
    keyword-extraction / topic-signal primitive.  Two hash-aggs + one
    token equi-join + per-doc WindowGroupLimit; corpus size N enters
    as a broadcast 1-row join, never a driver scalar."""
    return X.tfidf_top_terms(T(spark, sf, "documents"), "doc_id", "text",
                             k=3)


_QW = ("(CAST(concat('0x', substring(md5(concat('qw:', tok)), 1, 15)) "
       "AS BIGINT) / 576460752303423488.0 - 1.0)")


@query(
    "text_quality_classifier",
    oracle=f"""
    WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
                  FROM documents),
    agg AS (SELECT doc_id, sum({_QW}) AS sw,
                   CAST(count(*) AS BIGINT) AS n_tokens
            FROM toks GROUP BY doc_id),
    sc AS (SELECT doc_id, n_tokens,
                  sw / sqrt(n_tokens) + 0.1 * ln(n_tokens) AS margin
           FROM agg)
    SELECT CAST(doc_id AS BIGINT) AS doc_id, n_tokens,
           round(margin, 6) AS margin,
           round(1.0 / (1.0 + exp(-margin)), 6) AS prob,
           (1.0 / (1.0 + exp(-margin)) >= 0.5) AS keep
    FROM sc
    """)
def text_quality_classifier(spark, sf):
    """Hashed linear quality classifier (fasttext-shape inference):
    md5-derived per-token weights (the hashing trick as a pure function
    — a trained weight table drops in as a broadcast join), sigmoid
    margin, keep/drop verdict.  One explode + one hash-agg, all
    codegen."""
    return X.hashed_linear_score(T(spark, sf, "documents"),
                                 "doc_id", "text")


@query(
    "text_inverted_index",
    oracle="""
    WITH toks AS (SELECT DISTINCT doc_id,
                         unnest(string_split(text, ' ')) AS tok
                  FROM documents),
    ranked AS (SELECT tok, doc_id,
                      row_number() OVER (PARTITION BY tok
                                         ORDER BY doc_id) AS rn
               FROM toks),
    idx AS (SELECT tok AS token, CAST(count(*) AS BIGINT) AS df,
                   array_to_string(list_sort(list(CAST(doc_id AS BIGINT))
                                             FILTER (rn <= 20)), ',')
                       AS postings
            FROM ranked GROUP BY tok)
    SELECT token, df, postings FROM idx WHERE df >= 2
    """)
def text_inverted_index(spark, sf):
    """Inverted-index build: token -> (df, posting list capped to the
    first 20 doc ids via a ranking window — bounded aggregation state
    however hot the token) — the retrieval-side artifact of a corpus
    store.  Explode + distinct + window + one hash-agg."""
    return X.inverted_index(T(spark, sf, "documents"), "doc_id", "text")


@query(
    "multimodal_frame_sample",
    # duration is derived from payload byte length (100 bytes/s stand-in
    # for container metadata); frame timestamps are pure arithmetic, so
    # the sampling PLAN is fully oracle-checked — only the per-frame
    # decode is the stubbed step (fmx.operators.multimodal.decode_image)
    oracle="""
    WITH assets AS (
      SELECT doc_id, octet_length(encode(text)) / 100.0 AS duration_s
      FROM documents),
    n AS (SELECT doc_id, duration_s,
                 greatest(CAST(floor(duration_s * 0.5) AS BIGINT) - 1, 0)
                     AS max_i
          FROM assets)
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(i AS BIGINT) AS frame_idx,
           round(i / 0.5, 6) AS frame_ts,
           CAST(max_i + 1 AS BIGINT) AS n_frames
    FROM n, LATERAL (SELECT unnest(generate_series(0, max_i)) AS i) g
    """)
def multimodal_frame_sample(spark, sf):
    """Video frame-sampling plumbing: payload metadata -> per-asset
    uniform frame timestamps at 0.5 fps, exploded long-format (one row
    per frame to decode).  The timestamp plan is generated arithmetic
    (sequence/transform — sized by duration, not data volume); the
    decode of each sampled frame is the one honestly-stubbed step."""
    from pyspark.sql import functions as F

    mm = M.attach_payload(T(spark, sf, "documents"), "doc_id", "text")
    assets = mm.select(
        "doc_id", (F.col("meta.byte_len") / 100.0).alias("duration_s"))
    offs = M.sample_frame_offsets(assets, "doc_id", "duration_s", fps=0.5)
    return (offs
            .select("doc_id", F.posexplode("frame_ts")
                    .alias("frame_idx", "ts"),
                    F.size("frame_ts").alias("n_frames"))
            .select(F.col("doc_id").cast("bigint").alias("doc_id"),
                    F.col("frame_idx").cast("bigint").alias("frame_idx"),
                    F.round("ts", 6).alias("frame_ts"),
                    F.col("n_frames").cast("bigint").alias("n_frames")))


@query(
    "corpus_source_report",
    oracle="""
    WITH base AS (
      SELECT source, lang, doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
             CAST(length(text) AS BIGINT) AS n_chars,
             md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
      FROM documents),
    fpc AS (SELECT *, count(*) OVER (PARTITION BY fp) AS fp_df FROM base)
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           round(avg(n_chars), 4) AS avg_chars,
           CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
           CAST(sum(CASE WHEN fp_df >= 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS dup_docs,
           round(sum(CASE WHEN fp_df >= 2 THEN 1 ELSE 0 END) * 1.0
                 / count(*), 6) AS dup_ratio
    FROM fpc GROUP BY source
    """)
def corpus_source_report(spark, sf):
    """Per-source corpus report card: document/token volume, language
    spread, and exact-duplicate rate — the mixture table every
    pretraining run is steered by.  One scan, one fingerprint window,
    one source-grain agg; every stat is partial-aggregated, so the
    report costs one pass at any corpus size.  (The fingerprint
    window holds one row per copy of a duplicated doc: corpora with
    mega-clusters of identical content — empty pages, parked domains —
    should pre-aggregate on fp first, trading a second scan for
    skew-immunity, as in duplicate_spans' max_df note.)"""
    d = T(spark, sf, "documents")
    fp = F.md5(F.trim(F.regexp_replace(F.lower(F.col("text")),
                                       r"\s+", " ")))
    base = d.select(
        "source", "lang", "doc_id",
        F.size(F.split("text", " ")).cast("bigint").alias("n_tokens"),
        F.length("text").cast("bigint").alias("n_chars"),
        fp.alias("fp"))
    fpc = base.withColumn(
        "fp_df", F.count("*").over(Window.partitionBy("fp")))
    return (fpc.groupBy("source")
            .agg(F.count("*").cast("bigint").alias("n_docs"),
                 F.sum("n_tokens").cast("bigint").alias("total_tokens"),
                 F.round(F.avg("n_chars"), 4).alias("avg_chars"),
                 F.countDistinct("lang").cast("bigint").alias("n_langs"),
                 F.sum(F.when(F.col("fp_df") >= 2, 1).otherwise(0))
                 .cast("bigint").alias("dup_docs"))
            .withColumn("dup_ratio",
                        F.round(F.col("dup_docs") / F.col("n_docs"), 6)))


@query(
    "text_char_entropy",
    headline=True,
    oracle="""
    WITH chars AS (
      SELECT doc_id, unnest(string_split(text, '')) AS ch FROM documents),
    cc AS (SELECT doc_id, ch, count(*) AS c FROM chars
           WHERE ch <> '' GROUP BY doc_id, ch)
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(sum(c) AS BIGINT) AS n_chars,
           CAST(count(*) AS BIGINT) AS n_distinct_chars,
           round(log2(sum(c)) - sum(c * log2(c)) / sum(c), 6)
               AS char_entropy
    FROM cc GROUP BY doc_id
    """)
def text_char_entropy(spark, sf):
    """Character-level Shannon entropy per document (gibberish /
    binary-spill detector): map-side-combinable (doc, char) counts +
    a single-pass entropy fold — shuffle volume is |alphabet| rows per
    doc, not |text|."""
    return X.char_entropy(T(spark, sf, "documents"), "doc_id", "text")


@query(
    "multimodal_patches",
    oracle="""
    WITH ids AS (
      SELECT doc_id, text, length(text) AS n,
             unnest(generate_series(0,
                 CAST(ceil(length(text) / 64.0) AS BIGINT) - 1)) AS patch_idx
      FROM documents WHERE length(text) > 0)
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(patch_idx AS BIGINT) AS patch_idx,
           CAST(length(substring(text, CAST(patch_idx * 64 + 1 AS INT), 64))
                AS BIGINT) AS patch_len,
           md5(substring(text, CAST(patch_idx * 64 + 1 AS INT), 64))
               AS patch_md5
    FROM ids
    """)
def multimodal_patches(spark, sf):
    """Fixed-64-byte patching of binary payloads (the ViT-patch /
    audio-frame chunking shape): explode(sequence) over the metadata
    length + substring slices of the binary column, all codegen — no
    Python touches the bytes.  The oracle slices the identical ASCII
    content as text (byte slicing == char slicing for ASCII)."""
    docs = T(spark, sf, "documents")
    payloads = M.attach_payload(docs, "doc_id", "text", kind="text")
    return M.patch_payload(payloads, "doc_id", patch_bytes=64)


@query(
    "text_vocab_kl_by_source",
    oracle="""
    WITH toks AS (SELECT source, unnest(string_split(text, ' ')) AS token
                  FROM documents),
    tf AS (SELECT source, token FROM toks WHERE token <> ''),
    allc AS (SELECT token, count(*) AS ca FROM tf GROUP BY token),
    topk AS (SELECT token, ca FROM allc ORDER BY ca DESC, token LIMIT 200),
    gc AS (SELECT tf.source, tf.token, count(*) AS c
           FROM tf JOIN topk USING (token) GROUP BY tf.source, tf.token),
    dense AS (
      SELECT g.source, t.token, t.ca, coalesce(gc.c, 0) AS c
      FROM (SELECT DISTINCT source FROM documents) g
      CROSS JOIN topk t
      LEFT JOIN gc ON gc.source = g.source AND gc.token = t.token),
    sized AS (
      SELECT source, token, ca, c,
             sum(c) OVER (PARTITION BY source) AS ng,
             sum(c) OVER () AS na
      FROM dense)
    SELECT source, CAST(first(ng) AS BIGINT) AS n_tokens,
           round(sum(((c + 0.5) / (ng + 100.0))
                     * ln(((c + 0.5) / (ng + 100.0))
                          / (((ca - c) + 0.5) / ((na - ng) + 100.0)))), 6)
               AS kl_vs_rest
    FROM sized GROUP BY source
    """)
def text_vocab_kl_by_source(spark, sf):
    """Per-source vocabulary KL vs the rest of the corpus (top-200
    tokens, Laplace 0.5): the 'which source talks differently'
    mixture diagnostic — global vocab via TakeOrdered top-k, one
    (source, token) agg, and a tiny sources x k densify."""
    return X.vocab_kl_by_group(T(spark, sf, "documents"), "source",
                               "text", k=200, alpha=0.5)


@query(
    "text_tokenizer_fertility",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, text, string_split(text, ' ') AS t FROM documents),
    langs AS (
      SELECT doc_id,
             CASE WHEN len(list_filter(t, x -> list_contains({_SW['en']}, x))) >= len(list_filter(t, x -> list_contains({_SW['de']}, x)))
                   AND len(list_filter(t, x -> list_contains({_SW['en']}, x))) >= len(list_filter(t, x -> list_contains({_SW['es']}, x)))
                   AND len(list_filter(t, x -> list_contains({_SW['en']}, x))) >= len(list_filter(t, x -> list_contains({_SW['fr']}, x))) THEN 'en'
                  WHEN len(list_filter(t, x -> list_contains({_SW['de']}, x))) >= len(list_filter(t, x -> list_contains({_SW['es']}, x)))
                   AND len(list_filter(t, x -> list_contains({_SW['de']}, x))) >= len(list_filter(t, x -> list_contains({_SW['fr']}, x))) THEN 'de'
                  WHEN len(list_filter(t, x -> list_contains({_SW['es']}, x))) >= len(list_filter(t, x -> list_contains({_SW['fr']}, x))) THEN 'es'
                  ELSE 'fr' END AS pred_lang,
             len(t) AS ws,
             len(regexp_extract_all(text, '{X.BPE_RE}')) AS bpe
      FROM base)
    SELECT pred_lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(ws) AS BIGINT) AS ws_tokens,
           CAST(sum(bpe) AS BIGINT) AS bpe_tokens,
           round(sum(bpe) * 1.0 / sum(ws), 6) AS fertility
    FROM langs GROUP BY pred_lang
    """)
def text_tokenizer_fertility(spark, sf):
    """Tokenizer fertility (BPE-ish tokens per whitespace word) per
    predicted language — the 'how much more expensive is language X
    per word' budgeting number behind multilingual mixture weights.
    Language-ID and both token counts are one map-only pass; the
    report is one hash-agg on the language."""
    docs = T(spark, sf, "documents")
    lang = X.language_id(docs, "doc_id", "text").select("doc_id",
                                                        "pred_lang")
    counts = X.token_counts(docs, "doc_id", "text")
    return (counts.join(lang, "doc_id")
            .groupBy("pred_lang")
            .agg(F.count("*").cast("bigint").alias("n_docs"),
                 F.sum("ws_tokens").cast("bigint").alias("ws_tokens"),
                 F.sum("bpe_tokens").cast("bigint").alias("bpe_tokens"),
                 F.round(F.sum("bpe_tokens") / F.sum("ws_tokens"), 6)
                 .alias("fertility")))


_BM25_TERMS = "('dup', 'spark', 'merge')"


@query(
    "text_bm25_topk",
    oracle=f"""
    WITH tk AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token
                FROM documents),
    tk2 AS (SELECT doc_id, token FROM tk WHERE token <> ''),
    dl AS (SELECT doc_id, count(*) AS dl FROM tk2 GROUP BY doc_id),
    tf AS (SELECT doc_id, token, count(*) AS tf FROM tk2
           WHERE token IN {_BM25_TERMS} GROUP BY doc_id, token),
    dfq AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
    st AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM dl),
    sc AS (SELECT tf.doc_id,
                  round(sum(ln(1 + (st.n - dfq.df + 0.5) / (dfq.df + 0.5))
                            * tf.tf * 2.2
                            / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / st.avgdl))),
                        6) AS score
           FROM tf JOIN dl ON tf.doc_id = dl.doc_id
                   JOIN dfq ON tf.token = dfq.token
                   CROSS JOIN st
           GROUP BY tf.doc_id)
    SELECT CAST(doc_id AS BIGINT) AS doc_id, score,
           CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT)
               AS rank
    FROM sc QUALIFY rank <= 10
    """)
def text_bm25_topk(spark, sf):
    """BM25 keyword retrieval (query bag: dup/spark/merge — one rare
    term for idf contrast): per-doc tf and lengths from ONE corpus
    explode, df/N/avgdl as a broadcast handful of rows, top-10 via
    per-partition heaps (TakeOrderedAndProject)
    (fmx.operators.text.bm25_topk)."""
    from fmx.operators.text import bm25_topk

    out = bm25_topk(T(spark, sf, "documents"), "doc_id", "text",
                    terms=["dup", "spark", "merge"], k=10)
    return out.select(F.col("doc_id").cast("bigint").alias("doc_id"),
                      "score",
                      F.col("rank").cast("bigint").alias("rank"))


@query(
    "retrieval_query_likelihood",
    oracle="""
    WITH tk AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token
                FROM documents),
    tk2 AS (SELECT doc_id, token FROM tk WHERE token <> ''),
    dl AS (SELECT doc_id, count(*) AS dl FROM tk2 GROUP BY doc_id),
    tf AS (SELECT doc_id, token, count(*) AS tf FROM tk2
           GROUP BY doc_id, token),
    cf AS (SELECT token, count(*) AS cf FROM tk2 GROUP BY token),
    tot AS (SELECT count(*) AS c FROM tk2),
    qraw AS (SELECT doc_id AS qid,
                    unnest((string_split(text, ' '))[1:5]) AS token
             FROM documents WHERE doc_id % 97 = 0),
    q AS (SELECT qid, token, count(*) AS qtf FROM qraw
          WHERE token <> '' GROUP BY 1, 2),
    qj AS (SELECT q.qid, q.token, q.qtf,
                  round(ln(30.0 * cf.cf / tot.c), 9) AS lp,
                  30.0 * cf.cf / tot.c AS mup
           FROM q JOIN cf USING (token) CROSS JOIN tot),
    qs AS (SELECT qid, sum(qtf * lp) AS qconst, sum(qtf) AS qlen
           FROM qj GROUP BY qid),
    dlt AS (SELECT qj.qid, tf.doc_id,
                   sum(qj.qtf * round(ln(tf.tf + qj.mup) - qj.lp, 9))
                     AS dsum
            FROM qj JOIN tf USING (token) GROUP BY 1, 2),
    sc AS (SELECT dlt.qid, dlt.doc_id,
                  round(qs.qconst + dlt.dsum
                        - qs.qlen * round(ln(dl.dl + 30.0), 9), 6)
                    AS score
           FROM dlt JOIN dl USING (doc_id) JOIN qs USING (qid))
    SELECT CAST(qid AS BIGINT) AS qid, CAST(doc_id AS BIGINT) AS doc_id,
           score,
           CAST(row_number() OVER (PARTITION BY qid
                                   ORDER BY score DESC, doc_id)
                AS BIGINT) AS rank
    FROM sc QUALIFY rank <= 5
    """)
def retrieval_query_likelihood(spark, sf):
    """Dirichlet-smoothed query-likelihood retrieval
    (fmx.operators.text.dirichlet_ql_topk, mu=30, k=5), MULTI-QUERY:
    every 97th document's first 5 tokens form a query, and ONE plan
    scores the whole query set via the sparse decomposition (per-query
    smoothing constant + postings-join delta - per-doc length term) —
    the language-model ranking function beside text_bm25_topk's tf-idf
    one, and the second lexical leg for ann_hybrid_rrf-style fusion.
    (On THIS synthetic corpus — ~80-word near-uniform vocabulary —
    every query token is common, so the smoothing/length terms rightly
    dominate and the source doc holds no special rank: the oracle hash
    certifies the scoring math, not retrieval quality, which needs the
    discriminative vocabularies real corpora have.)  Per-term ln
    summands round to 9dp before summation, scores to 6dp before the
    per-query (score desc, doc_id) rank."""
    docs = T(spark, sf, "documents")
    queries = (docs.filter(F.col("doc_id") % 97 == 0)
               .select(F.col("doc_id").alias("qid"),
                       F.explode(F.expr("slice(split(text, ' '), 1, 5)"))
                       .alias("token"))
               .filter(F.col("token") != "")
               .groupBy("qid", "token").agg(F.count("*").alias("qtf")))
    out = X.dirichlet_ql_topk(docs, "doc_id", "text", queries,
                              "qid", "token", "qtf", mu=30.0, k=5)
    return out.select(F.col("qid").cast("bigint").alias("qid"),
                      F.col("doc_id").cast("bigint").alias("doc_id"),
                      "score",
                      F.col("rank").cast("bigint").alias("rank"))


@query(
    "text_cluster_terms",
    oracle="""
    WITH toks AS (SELECT source, unnest(string_split(text, ' ')) AS token
                  FROM documents),
    tf AS (SELECT source, token, count(*) AS tf
           FROM toks WHERE token <> '' GROUP BY source, token),
    ft AS (SELECT token, sum(tf) AS ft FROM tf GROUP BY token),
    a AS (SELECT CAST(sum(tf) AS DOUBLE) / count(DISTINCT source) AS a
          FROM tf),
    scored AS (SELECT source, token, tf,
                      round(tf * ln(1.0 + (SELECT a FROM a) / ft), 9) AS s
               FROM tf JOIN ft USING (token))
    SELECT source, token, CAST(tf AS BIGINT) AS tf,
           round(s, 6) AS ctfidf,
           CAST(row_number() OVER (PARTITION BY source
                                   ORDER BY s DESC, token) AS BIGINT)
               AS term_rank
    FROM scored
    QUALIFY term_rank <= 5
    """)
def text_cluster_terms(spark, sf):
    """Top-5 distinctive terms per source cluster by class-based tf-idf
    (BERTopic's c-TF-IDF) — the "what is this cluster about" readout
    for topic labeling and corpus-composition audits.  Two
    vocabulary-bounded hash-aggs + one token equi-join + per-cluster
    WindowGroupLimit; the mean-tokens-per-cluster scalar enters as a
    broadcast 1-row join (fmx.operators.text.cluster_terms)."""
    return X.cluster_terms(T(spark, sf, "documents"), "source", "text",
                           k=5)


BP_CHUNK, BP_MIN_DF = 8, 2


@query(
    "text_boilerplate_strip",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
      FROM documents),
    chunks AS (
      SELECT doc_id, CAST(s // {BP_CHUNK} AS BIGINT) AS chunk_id,
             array_to_string(list_slice(t, s + 1,
                             least(s + {BP_CHUNK}, len(t))), ' ') AS ctext,
             len(list_slice(t, s + 1, least(s + {BP_CHUNK}, len(t)))) AS ntok
      FROM toks, LATERAL (SELECT unnest(generate_series(0, len(t) - 1,
                                        {BP_CHUNK})) AS s) g
      WHERE len(t) > 0),
    freq AS (SELECT md5(ctext) AS h, count(DISTINCT doc_id) AS df
             FROM chunks GROUP BY md5(ctext)),
    flagged AS (SELECT c.doc_id, c.chunk_id, c.ctext, c.ntok,
                       CASE WHEN f.df >= {BP_MIN_DF} THEN 1 ELSE 0 END
                           AS boiler
                FROM chunks c JOIN freq f ON md5(c.ctext) = f.h)
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(count(*) AS BIGINT) AS n_chunks,
           CAST(sum(1 - boiler) AS BIGINT) AS n_kept,
           CAST(coalesce(sum(CASE WHEN boiler = 0 THEN ntok END), 0)
                AS BIGINT) AS kept_tokens,
           md5(coalesce(string_agg(CASE WHEN boiler = 0 THEN ctext END,
                                   ' ' ORDER BY chunk_id), '')) AS clean_hash
    FROM flagged GROUP BY doc_id
    """)
def text_boilerplate_strip(spark, sf):
    """Corpus-level boilerplate removal (the RefinedWeb/CCNet repeated-
    line filter, at 8-token chunk grain): chunks whose exact text
    appears in >= 2 distinct documents are cut everywhere, documents
    reassembled from the survivors (md5 of the cleaned text proves the
    reassembly order across engines).  Map-only chunking, one chunk-
    hash agg for document frequency, an equi-join on the (uniform) md5
    key, then a doc-grain collect + array_sort — the boilerplate set
    stays a distributed relation, never driver state."""
    return X.boilerplate_strip(T(spark, sf, "documents"), "doc_id",
                               "text", chunk_size=BP_CHUNK,
                               min_df=BP_MIN_DF)


BPE_TOPK = 20


@query(
    "text_bpe_pair_merges",
    oracle=f"""
    WITH w AS (SELECT word, count(*) AS wc
               FROM (SELECT unnest(list_filter(string_split(text, ' '),
                                               x -> x <> '')) AS word
                     FROM documents)
               GROUP BY word),
    w2 AS (SELECT word, wc FROM w WHERE length(word) >= 2),
    pairs AS (SELECT substring(word, p, 2) AS pair, wc
              FROM w2, LATERAL (SELECT unnest(generate_series(1,
                                length(word) - 1)) AS p) g),
    counts AS (SELECT pair, CAST(sum(wc) AS BIGINT) AS cnt
               FROM pairs GROUP BY pair),
    top AS (SELECT pair, cnt FROM counts
            ORDER BY cnt DESC, pair LIMIT {BPE_TOPK})
    SELECT pair, cnt,
           CAST(row_number() OVER (ORDER BY cnt DESC, pair) AS BIGINT)
               AS rank
    FROM top
    """)
def text_bpe_pair_merges(spark, sf):
    """Top BPE merge candidates over the corpus: adjacent character-
    pair frequencies weighted by word count — the distributed reduce
    inside tokenizer training.  The corpus collapses to the Zipf-
    bounded distinct-word relation before any expansion; pair counting
    is one map-side-combinable agg; top-k is TakeOrderedAndProject."""
    return X.bpe_pair_counts(T(spark, sf, "documents"), "text",
                             k=BPE_TOPK)


@query(
    "multimodal_payload_dedup",
    oracle="""
    SELECT md5(text) AS payload_md5,
           CAST(min(doc_id) AS BIGINT) AS keep_id,
           CAST(count(*) AS BIGINT) AS dup_count,
           CAST(min(octet_length(encode(text))) AS BIGINT) AS byte_len
    FROM documents GROUP BY md5(text)
    """)
def multimodal_payload_dedup(spark, sf):
    """Exact dedup on the BINARY payload column (byte-identical
    images/audio/blobs collapse regardless of any metadata): group by
    payload md5, keep the min id — the multimodal twin of exact text
    dedup, one hash-agg at any corpus size, bytes hashed never
    parsed."""
    from pyspark.sql import functions as F

    mm = M.attach_payload(T(spark, sf, "documents"), "doc_id", "text")
    return (mm.groupBy(F.md5("payload").alias("payload_md5"))
            .agg(F.min("doc_id").cast("bigint").alias("keep_id"),
                 F.count("*").cast("bigint").alias("dup_count"),
                 F.min("meta.byte_len").cast("bigint").alias("byte_len")))


@query(
    "text_ngram_novelty",
    oracle="""
    WITH toks AS (SELECT doc_id,
                         list_filter(string_split(text, ' '), x -> x <> '')
                             AS t
                  FROM documents),
    grams AS (SELECT doc_id,
                     array_to_string(list_slice(t, s, s + 2), ' ') AS g
              FROM toks, LATERAL (SELECT unnest(generate_series(1,
                                  len(t) - 2)) AS s) x
              WHERE len(t) >= 3),
    dg AS (SELECT DISTINCT doc_id, g FROM grams),
    dfreq AS (SELECT g, count(*) AS df FROM dg GROUP BY g)
    SELECT CAST(dg.doc_id AS BIGINT) AS doc_id,
           CAST(count(*) AS BIGINT) AS n_grams,
           CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_unique,
           round(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) * 1.0
                 / count(*), 6) AS novelty
    FROM dg JOIN dfreq ON dg.g = dfreq.g
    GROUP BY dg.doc_id
    """)
def text_ngram_novelty(spark, sf):
    """Per-document 3-gram novelty: the fraction of a document's
    distinct trigrams that occur in NO other document — high novelty
    marks original content, low novelty marks template/boilerplate
    (the document-level complement of the span-dup profile).  One
    explode + distinct + trigram hash-agg + an equi-join back on the
    gram (uniform post-distinct); never doc x doc."""
    toks = (T(spark, sf, "documents")
            .select("doc_id",
                    F.filter(F.split(F.col("text"), " "),
                             lambda x: x != "").alias("_t"))
            .filter(F.size("_t") >= 3))
    grams = (toks.select(
        "doc_id",
        F.explode(F.sequence(F.lit(1), F.size("_t") - 2)).alias("s"),
        "_t")
        .select("doc_id",
                F.array_join(F.slice("_t", F.col("s"), 3), " ")
                .alias("g")))
    dg = grams.distinct()
    dfreq = dg.groupBy("g").agg(F.count("*").alias("df"))
    return (dg.join(dfreq, "g")
            .groupBy("doc_id")
            .agg(F.count("*").cast("bigint").alias("n_grams"),
                 F.sum(F.when(F.col("df") == 1, 1).otherwise(0))
                 .cast("bigint").alias("n_unique"),
                 F.round(F.sum(F.when(F.col("df") == 1, 1)
                               .otherwise(0)) / F.count("*"), 6)
                 .alias("novelty"))
            .select(F.col("doc_id").cast("bigint").alias("doc_id"),
                    "n_grams", "n_unique", "novelty"))


@query(
    "text_template_clusters",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
      FROM documents),
    chunks AS (
      SELECT doc_id,
             md5(array_to_string(list_slice(t, s + 1,
                 least(s + {BP_CHUNK}, len(t))), ' ')) AS h
      FROM toks, LATERAL (SELECT unnest(generate_series(0, len(t) - 1,
                                        {BP_CHUNK})) AS s) g
      WHERE len(t) > 0),
    freq AS (SELECT h, count(DISTINCT doc_id) AS df
             FROM chunks GROUP BY h),
    boiler AS (SELECT DISTINCT c.doc_id, c.h
               FROM chunks c JOIN freq f ON c.h = f.h
               WHERE f.df >= {BP_MIN_DF}),
    tid AS (SELECT doc_id,
                   md5(string_agg(h, ',' ORDER BY h)) AS template_id
            FROM boiler GROUP BY doc_id)
    SELECT template_id,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(min(doc_id) AS BIGINT) AS exemplar_doc
    FROM tid GROUP BY template_id
    HAVING count(*) >= 2
    """)
def text_template_clusters(spark, sf):
    """Template detection: documents sharing the same SET of
    boilerplate chunks (df >= 2 8-token chunks, the same grain as
    text_boilerplate_strip) get one template_id = md5 of
    their sorted boilerplate-chunk hashes; clusters of >= 2 docs are
    the site templates a web pipeline strips or caps.  Chunking is
    map-only; the signature is a doc-grain sorted collect over the
    (bounded) boilerplate chunks; clustering is one hash-agg on the
    signature — never doc x doc."""
    toks = (T(spark, sf, "documents")
            .select("doc_id",
                    F.filter(F.split(F.col("text"), " "),
                             lambda x: x != "").alias("_t"))
            .filter(F.size("_t") > 0))
    starts = F.explode(F.sequence(
        F.lit(0), F.size("_t") - 1, F.lit(BP_CHUNK))).alias("s")
    chunks = (toks.select("doc_id", "_t", starts)
              .select("doc_id",
                      F.md5(F.array_join(
                          F.slice("_t", F.col("s") + 1, BP_CHUNK), " "))
                      .alias("h")))
    freq = chunks.groupBy("h").agg(F.countDistinct("doc_id").alias("df"))
    boiler = (chunks.join(freq, "h")
              .filter(F.col("df") >= BP_MIN_DF)
              .select("doc_id", "h").distinct())
    tid = (boiler.groupBy("doc_id")
           .agg(F.md5(F.array_join(F.array_sort(F.collect_list("h")),
                                   ",")).alias("template_id")))
    return (tid.groupBy("template_id")
            .agg(F.count("*").cast("bigint").alias("n_docs"),
                 F.min("doc_id").cast("bigint").alias("exemplar_doc"))
            .filter(F.col("n_docs") >= 2))


def _langid_confusion_oracle() -> str:
    score = {lang: f"len(list_filter(t, x -> list_contains({_SW[lang]}, x)))"
                   " * 1.0 / len(t)"
             for lang in X.STOPWORDS}
    pred = f"""CASE WHEN {score['en']} >= {score['de']}
                 AND {score['en']} >= {score['es']}
                 AND {score['en']} >= {score['fr']} THEN 'en'
                WHEN {score['de']} >= {score['es']}
                 AND {score['de']} >= {score['fr']} THEN 'de'
                WHEN {score['es']} >= {score['fr']} THEN 'es'
                ELSE 'fr' END"""
    return f"""
    WITH base AS (SELECT doc_id, lang,
                         string_split(text, ' ') AS t FROM documents),
    p AS (SELECT lang AS true_lang, {pred} AS pred_lang FROM base),
    tot AS (SELECT true_lang, count(*) AS n_true FROM p
            GROUP BY true_lang)
    SELECT p.true_lang, p.pred_lang,
           CAST(count(*) AS BIGINT) AS n,
           round(count(*) * 1.0 / max(n_true), 6) AS frac_of_true
    FROM p JOIN tot ON p.true_lang = tot.true_lang
    GROUP BY p.true_lang, p.pred_lang
    """


@query("eval_langid_confusion", oracle=_langid_confusion_oracle())
def eval_langid_confusion(spark, sf):
    """Confusion matrix of the stopword language-ID against the
    corpus's REAL ground-truth lang column — per (true, predicted)
    cell count and recall share, the honest accuracy readout for a
    heuristic classifier (and the template for evaluating any
    classifier column against labels).  One scan + a cells-grain agg;
    the per-class totals join back post-aggregation."""
    docs = T(spark, sf, "documents")
    pred = (X.language_id(docs, "doc_id", "text")
            .select(F.col("doc_id").alias("_pid"), "pred_lang"))
    p = (docs.select(F.col("doc_id"), F.col("lang").alias("true_lang"))
         .join(pred, F.col("doc_id") == F.col("_pid"))
         .select("true_lang", "pred_lang"))
    tot = p.groupBy("true_lang").agg(F.count("*").alias("n_true"))
    return (p.groupBy("true_lang", "pred_lang")
            .agg(F.count("*").cast("bigint").alias("n"))
            .join(tot, "true_lang")
            .select("true_lang", "pred_lang", "n",
                    F.round(F.col("n") / F.col("n_true"), 6)
                    .alias("frac_of_true")))



@query(
    "multimodal_payload_near_dup",
    oracle="""
    WITH pl AS (SELECT doc_id, hex(encode(text)) AS hx,
                       octet_length(encode(text)) AS bl
                FROM documents
                WHERE octet_length(encode(text)) >= 8),
    sh AS (SELECT doc_id,
                  CAST(concat('0x', substring(md5(substring(hx, i * 8 + 1, 16)), 1, 15)) AS BIGINT) AS h
           FROM pl, LATERAL (SELECT unnest(generate_series(0,
                             CAST(floor((bl - 8) / 4.0) AS INT))) AS i) t),
    sig AS (SELECT doc_id,
                min((40520 * (h % 2147483647) + 69624) % 2147483647) AS h0,
                min((81023 * (h % 2147483647) + 139245) % 2147483647) AS h1,
                min((121526 * (h % 2147483647) + 208866) % 2147483647) AS h2,
                min((162029 * (h % 2147483647) + 278487) % 2147483647) AS h3,
                min((202532 * (h % 2147483647) + 348108) % 2147483647) AS h4,
                min((243035 * (h % 2147483647) + 417729) % 2147483647) AS h5,
                min((283538 * (h % 2147483647) + 487350) % 2147483647) AS h6,
                min((324041 * (h % 2147483647) + 556971) % 2147483647) AS h7
            FROM sh GROUP BY doc_id),
    lf AS (SELECT doc_id, 0 AS band, md5(concat_ws(':', CAST(h0 AS VARCHAR), CAST(h1 AS VARCHAR))) AS sig FROM sig
        UNION ALL SELECT doc_id, 1 AS band, md5(concat_ws(':', CAST(h2 AS VARCHAR), CAST(h3 AS VARCHAR))) AS sig FROM sig
        UNION ALL SELECT doc_id, 2 AS band, md5(concat_ws(':', CAST(h4 AS VARCHAR), CAST(h5 AS VARCHAR))) AS sig FROM sig
        UNION ALL SELECT doc_id, 3 AS band, md5(concat_ws(':', CAST(h6 AS VARCHAR), CAST(h7 AS VARCHAR))) AS sig FROM sig),
    pairs AS (SELECT la.doc_id AS a, lb.doc_id AS b
              FROM lf la JOIN lf lb ON la.band = lb.band
                                   AND la.sig = lb.sig
                                   AND la.doc_id < lb.doc_id)
    SELECT CAST(a AS BIGINT) AS a, CAST(b AS BIGINT) AS b,
           CAST(count(*) AS BIGINT) AS shared_bands
    FROM pairs GROUP BY a, b
    """)
def multimodal_payload_near_dup(spark, sf):
    """Near-duplicate BINARY payloads without decoding: byte-shingle
    (8 bytes, stride 4, over the hex rendering) MinHash with 8 salted
    minima in 4 bands of 2; candidates meet through the band
    equi-join — linear pair work, the multimodal twin of text
    MinHash-LSH (fmx.operators.multimodal.payload_minhash_pairs).
    Catches byte-shifted/truncated/metadata-variant copies that exact
    payload-md5 dedup (multimodal_payload_dedup) misses; no codec
    anywhere."""
    mm = M.attach_payload(T(spark, sf, "documents"), "doc_id", "text")
    out = M.payload_minhash_pairs(mm, "doc_id")
    return out.select(F.col("a").cast("bigint").alias("a"),
                      F.col("b").cast("bigint").alias("b"),
                      F.col("shared_bands").cast("bigint")
                      .alias("shared_bands"))


@query(
    "text_readability",
    oracle="""
    WITH c AS (
      SELECT doc_id,
             greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS ns,
             greatest(len(string_split(text, ' ')), 1) AS nw,
             greatest(len(regexp_extract_all(text, '[aeiouyAEIOUY]+')), 1)
                 AS nsy
      FROM documents)
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(ns AS BIGINT) AS n_sentences,
           CAST(nw AS BIGINT) AS n_words,
           CAST(nsy AS BIGINT) AS n_syllables,
           round(206.835 - 1.015 * (nw / ns) - 84.6 * (nsy / nw), 4)
               AS flesch
    FROM c
    """)
def text_readability(spark, sf):
    """Flesch reading-ease per document (fmx.operators.text.readability):
    vowel-group syllable proxy, [.!?]+ sentence runs, whitespace
    words — the readability-band corpus filter (C4/Gopher family).
    Pure per-row regexp counts (no UDF, no shuffle — a map over any
    corpus size); the score is three IEEE ops on integer ratios, so
    both engines produce bit-identical doubles."""
    return X.readability(T(spark, sf, "documents"), "doc_id", "text")


@query(
    "text_charset_profile",
    oracle="""
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(length(text) AS BIGINT) AS n_chars,
           round(len(regexp_extract_all(text, '[\\x20-\\x7e]'))
                 / nullif(length(text), 0), 6) AS ascii_ratio,
           round(len(regexp_extract_all(text, '[^\\x00-\\x7f]'))
                 / nullif(length(text), 0), 6) AS nonascii_ratio,
           round(len(regexp_extract_all(text, '[A-Z]'))
                 / nullif(length(text), 0), 6) AS upper_ratio,
           round(len(regexp_extract_all(text, ' '))
                 / nullif(length(text), 0), 6) AS space_ratio,
           round(len(regexp_extract_all(text, '[A-Za-z]'))
                 / nullif(length(text), 0), 6) AS alpha_ratio
    FROM documents
    """)
def text_charset_profile(spark, sf):
    """Character-class composition per document
    (fmx.operators.text.charset_profile): ASCII / non-ASCII / upper /
    space / alpha ratios — the encoding-health gate before language
    ID (mojibake and binary spill light up non-ASCII; caps-spam
    lights up upper).  Map-only regexp counts, scan pruned to
    (doc_id, text); integer count ratios are engine-exact."""
    return X.charset_profile(T(spark, sf, "documents"), "doc_id", "text")


ZIPF_K = 1000


@query(
    "text_zipf_slope",
    oracle=f"""
    WITH toks AS (SELECT unnest(string_split(text, ' ')) AS token
                  FROM documents),
    counts AS (SELECT token, count(*) AS cnt FROM toks
               WHERE token <> '' GROUP BY token),
    top AS (SELECT token, cnt FROM counts
            ORDER BY cnt DESC, token LIMIT {ZIPF_K}),
    rk AS (SELECT cnt, row_number() OVER (ORDER BY cnt DESC, token)
                      AS rank FROM top),
    xy AS (SELECT ln(rank) AS x, ln(cnt) AS y FROM rk)
    SELECT CAST(count(*) AS BIGINT) AS n_terms,
           round(covar_pop(x, y) / var_pop(x), 4) AS slope,
           round(avg(y) - covar_pop(x, y) / var_pop(x) * avg(x), 4)
               AS intercept
    FROM xy
    """)
def text_zipf_slope(spark, sf):
    """Zipf's-law fit of the corpus vocabulary: regress ln(freq) on
    ln(rank) over the top-{ZIPF_K} terms (fmx.operators.text.vocab_topk)
    — natural corpora slope ~ -1; template/machine-generated spam
    flattens or cliffs, making the slope a corpus-health scalar for
    dataset cards.  The regression runs on the {ZIPF_K}-row vocab
    relation (covar_pop/var_pop — bounded input, rounded at 4dp to
    absorb co-moment update-order noise); the heavy lifting is the
    one explode + combinable count agg + TakeOrdered that vocab_topk
    already does."""
    from fmx.operators.text import vocab_topk

    v = vocab_topk(T(spark, sf, "documents"), "text", k=ZIPF_K)
    xy = v.select(F.log("rank").alias("x"), F.log("cnt").alias("y"))
    slope = F.covar_pop("x", "y") / F.var_pop("x")
    return xy.agg(
        F.count("*").cast("bigint").alias("n_terms"),
        F.round(slope, 4).alias("slope"),
        F.round(F.avg("y") - slope * F.avg("x"), 4).alias("intercept"))


CHUNK_BYTES = 256


@query(
    "multimodal_chunk_manifest",
    oracle=f"""
    WITH p AS (SELECT doc_id, hex(encode(text)) AS hx,
                      octet_length(encode(text)) AS blen
               FROM documents WHERE octet_length(encode(text)) > 0),
    ch AS (SELECT doc_id, blen,
                  unnest(range(CAST(ceil(blen / {CHUNK_BYTES}.0)
                               AS BIGINT))) AS idx,
                  hx
           FROM p)
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(idx AS BIGINT) AS chunk_idx,
           CAST(idx * {CHUNK_BYTES} AS BIGINT) AS byte_off,
           CAST(least({CHUNK_BYTES}, blen - idx * {CHUNK_BYTES})
                AS BIGINT) AS byte_len,
           md5(substring(hx, CAST(idx * {CHUNK_BYTES} * 2 + 1 AS BIGINT),
                         CAST(least({CHUNK_BYTES},
                                    blen - idx * {CHUNK_BYTES}) * 2
                              AS BIGINT))) AS chunk_md5
    FROM ch
    """)
def multimodal_chunk_manifest(spark, sf):
    """Fixed-size chunk manifest over binary payloads: (doc_id,
    chunk_idx, byte_off, byte_len, chunk_md5) at 256-byte grain — the
    sharding step a multimodal ingest runs so parallel workers can
    decode/upload/verify ranges of a blob independently, and the
    range-level integrity check when blobs are re-fetched.  Pure map:
    one sequence-explode per payload (bounded by byte_len/chunk), the
    md5 runs on the HEX rendering (both engines use plain string ops
    on identical hex — the payload_minhash codec-free discipline);
    zero-byte payloads produce no chunks by contract."""
    d = T(spark, sf, "documents")
    p = (d.select("doc_id",
                  F.hex(F.encode(F.col("text"), "utf-8")).alias("hx"),
                  F.octet_length(F.encode(F.col("text"), "utf-8"))
                  .alias("blen"))
         .filter(F.col("blen") > 0))
    n_chunks = F.ceil(F.col("blen") / float(CHUNK_BYTES)).cast("bigint")
    ch = p.select("doc_id", "blen", "hx",
                  F.explode(F.sequence(F.lit(0).cast("bigint"),
                                       n_chunks - 1)).alias("idx"))
    blen_left = F.col("blen") - F.col("idx") * CHUNK_BYTES
    clen = F.least(F.lit(CHUNK_BYTES).cast("bigint"), blen_left)
    return ch.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.col("idx").cast("bigint").alias("chunk_idx"),
        (F.col("idx") * CHUNK_BYTES).cast("bigint").alias("byte_off"),
        clen.cast("bigint").alias("byte_len"),
        F.md5(F.substring(
            F.col("hx"),
            (F.col("idx") * CHUNK_BYTES * 2 + 1).cast("int"),
            (clen * 2).cast("int"))).alias("chunk_md5"))


@query(
    "text_pmi_bigrams",
    oracle="""
    WITH toks AS (SELECT list_filter(string_split(text, ' '),
                                     x -> x <> '') AS t
                  FROM documents),
    big AS (SELECT t[i] AS a, t[i + 1] AS b
            FROM toks, LATERAL (SELECT unnest(generate_series(1,
                                len(t) - 1)) AS i) g
            WHERE len(t) >= 2),
    cab AS (SELECT a, b, count(*) AS cab FROM big GROUP BY a, b),
    uni AS (SELECT unnest(t) AS tok FROM toks),
    u AS (SELECT tok, count(*) AS c FROM uni GROUP BY tok),
    tot AS (SELECT (SELECT sum(c) FROM u) AS tot_t,
                   (SELECT count(*) FROM big) AS tot_b),
    scored AS (SELECT a, b, CAST(cab AS BIGINT) AS cab,
                      round(ln((cab * 1.0 * tot_t * tot_t)
                               / (tot_b * 1.0 * ua.c * ub.c)),
                            6) AS pmi
               FROM cab JOIN u ua ON cab.a = ua.tok
                        JOIN u ub ON cab.b = ub.tok, tot
               WHERE cab >= 5),
    top AS (SELECT * FROM scored ORDER BY cab DESC, a, b LIMIT 20)
    SELECT a, b, cab, pmi,
           CAST(row_number() OVER (ORDER BY cab DESC, a, b) AS BIGINT)
               AS rank
    FROM top
    """)
def text_pmi_bigrams(spark, sf):
    """Top-20 adjacent-token bigrams with pointwise mutual information
    (fmx.operators.text.pmi_bigrams): collocation strength from
    integer-exact corpus counts — separates genuinely associated
    pairs from merely frequent ones (what bpe_pair_merges' raw
    frequency cannot).  Bigram expansion is a map-side array zip (no
    token-grain shuffle); unigram joins run on the vocabulary-bounded
    pair relation; top-k is TakeOrderedAndProject.  Only the final
    ln() is floating point, rounded at 6."""
    return X.pmi_bigrams(T(spark, sf, "documents"), "text",
                         k=20, min_count=5)


@query(
    "text_gopher_filters",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, text,
             list_filter(string_split(text, ' '), x -> x <> '') AS t
      FROM documents),
    m AS (SELECT doc_id, len(t) AS nw,
                 (SELECT sum(length(x)) FROM unnest(t) AS u(x)) * 1.0
                     / len(t) AS mwl,
                 len(list_filter(t, x -> regexp_matches(x, '[a-zA-Z]')))
                     * 1.0 / len(t) AS alpha,
                 length(regexp_replace(text, '[^0-9]', '', 'g')) * 1.0
                     / length(text) AS digits,
                 len(list_intersect(list_distinct(t), {_EN})) AS stops
          FROM base)
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(nw AS BIGINT) AS n_words,
           (nw >= 20 AND nw <= 90) AS rule_word_count,
           (mwl >= 3.0 AND mwl <= 10.0) AS rule_mean_word_len,
           (alpha >= 0.8) AS rule_alpha_ratio,
           (digits < 0.3) AS rule_digit_ratio,
           (stops >= 2) AS rule_stopwords,
           ((nw >= 20 AND nw <= 90) AND (mwl >= 3.0 AND mwl <= 10.0)
            AND alpha >= 0.8 AND digits < 0.3 AND stops >= 2) AS passed
    FROM m
    """)
def text_gopher_filters(spark, sf):
    """Gopher-style rule-bundle quality gate
    (fmx.operators.text.gopher_filters): per-document boolean
    verdicts for word-count bounds, mean-word-length bounds,
    alphabetic-word ratio, digit-character ratio, and stopword
    presence, plus the conjunction — the hard-filter stage of a
    pretraining pipeline, each rule independently auditable.  ONE
    map-side projection pass: no explode, no shuffle, no UDF; all
    thresholds compare doubles derived from exact integer counts."""
    return X.gopher_filters(T(spark, sf, "documents"), "doc_id", "text")


def _kappa_oracle() -> str:
    score = {lang: f"len(list_filter(t, x -> list_contains({_SW[lang]}, x)))"
                   " * 1.0 / len(t)"
             for lang in X.STOPWORDS}
    pred = f"""CASE WHEN {score['en']} >= {score['de']}
                 AND {score['en']} >= {score['es']}
                 AND {score['en']} >= {score['fr']} THEN 'en'
                WHEN {score['de']} >= {score['es']}
                 AND {score['de']} >= {score['fr']} THEN 'de'
                WHEN {score['es']} >= {score['fr']} THEN 'es'
                ELSE 'fr' END"""
    return f"""
    WITH base AS (SELECT doc_id, lang,
                         string_split(text, ' ') AS t FROM documents),
    p AS (SELECT lang AS true_lang, {pred} AS pred_lang FROM base),
    cells AS (SELECT true_lang, pred_lang, count(*) AS n FROM p
              GROUP BY true_lang, pred_lang),
    nt AS (SELECT true_lang AS cls, sum(n) AS n_true FROM cells
           GROUP BY true_lang),
    np AS (SELECT pred_lang AS cls, sum(n) AS n_pred FROM cells
           GROUP BY pred_lang),
    tot AS (SELECT sum(n) AS n_all,
                   sum(CASE WHEN true_lang = pred_lang THEN n
                            ELSE 0 END) AS n_agree
            FROM cells),
    chance AS (SELECT sum(n_true * n_pred) AS s
               FROM nt JOIN np USING (cls))
    SELECT CAST(n_all AS BIGINT) AS n,
           round(n_agree * 1.0 / n_all, 6) AS po,
           round(s * 1.0 / (n_all * n_all), 6) AS pe,
           round((n_agree * 1.0 / n_all - s * 1.0 / (n_all * n_all))
                 / (1.0 - s * 1.0 / (n_all * n_all)), 6) AS kappa
    FROM tot, chance
    """


@query("eval_cohen_kappa", oracle=_kappa_oracle())
def eval_cohen_kappa(spark, sf):
    """Cohen's kappa between the stopword language-ID heuristic and
    the ground-truth lang column: chance-corrected agreement
    (po - pe) / (1 - pe) — the scalar the confusion matrix
    (eval_langid_confusion) doesn't give, and the standard metric for
    auditing AGREEMENT between two labelers (model vs model, model vs
    human raters) where raw accuracy is inflated by class imbalance.

    Scale shape: one scan to (true, pred), one cells-grain hash-agg
    (#classes^2 rows), marginals and the chance term computed on that
    tiny relation — every division happens on integer-exact counts in
    both engines, rounded at emit."""
    docs = T(spark, sf, "documents")
    pred = (X.language_id(docs, "doc_id", "text")
            .select(F.col("doc_id").alias("_pid"), "pred_lang"))
    p = (docs.select(F.col("doc_id"), F.col("lang").alias("true_lang"))
         .join(pred, F.col("doc_id") == F.col("_pid"))
         .select("true_lang", "pred_lang"))
    cells = p.groupBy("true_lang", "pred_lang").agg(
        F.count("*").alias("n"))
    nt = cells.groupBy(F.col("true_lang").alias("cls")).agg(
        F.sum("n").alias("n_true"))
    np_ = cells.groupBy(F.col("pred_lang").alias("cls")).agg(
        F.sum("n").alias("n_pred"))
    tot = cells.agg(
        F.sum("n").alias("n_all"),
        F.sum(F.when(F.col("true_lang") == F.col("pred_lang"),
                     F.col("n")).otherwise(F.lit(0))).alias("n_agree"))
    chance = (nt.join(np_, "cls")
              .agg(F.sum(F.col("n_true") * F.col("n_pred")).alias("s")))
    po = F.col("n_agree") * 1.0 / F.col("n_all")
    pe = F.col("s") * 1.0 / (F.col("n_all") * F.col("n_all"))
    return (tot.crossJoin(F.broadcast(chance))
            .select(F.col("n_all").cast("bigint").alias("n"),
                    F.round(po, 6).alias("po"),
                    F.round(pe, 6).alias("pe"),
                    F.round((po - pe) / (F.lit(1.0) - pe), 6)
                    .alias("kappa")))


@query(
    "multimodal_payload_entropy",
    oracle="""
    WITH pl AS (SELECT doc_id, hex(encode(text)) AS hx,
                       octet_length(encode(text)) AS bl
                FROM documents WHERE octet_length(encode(text)) > 0),
    by AS (SELECT doc_id, bl, substring(hx, i * 2 + 1, 2) AS byte
           FROM pl, LATERAL (SELECT unnest(generate_series(0, bl - 1))
                             AS i) g),
    cnt AS (SELECT doc_id, bl, byte, count(*) AS c
            FROM by GROUP BY doc_id, bl, byte),
    ent AS (SELECT doc_id, max(bl) AS byte_len,
                   count(*) AS distinct_bytes,
                   -sum((c * 1.0 / bl) * ln(c * 1.0 / bl)) AS h
            FROM cnt GROUP BY doc_id)
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(byte_len AS BIGINT) AS byte_len,
           CAST(distinct_bytes AS BIGINT) AS distinct_bytes,
           round(h / ln(2.0), 6) AS entropy_bits
    FROM ent
    """)
def multimodal_payload_entropy(spark, sf):
    """Per-payload byte entropy WITHOUT decoding (the codec-free
    discipline of the payload family): Shannon entropy of the byte
    histogram over the hex rendering, in bits/byte — the
    compressibility probe that flags already-compressed / encrypted
    blobs (entropy near 8) vs text-like payloads (4-5) before any
    expensive decode is attempted; the dedupe-or-skip router for a
    100 TB blob store.  One per-byte explode bounded by byte_len, a
    (doc, byte)-grain hash-agg with map-side combine (<= 256 rows per
    doc survive), then a doc-grain entropy fold.  Counts are integer;
    ln rounds at emit."""
    mm = M.attach_payload(T(spark, sf, "documents"), "doc_id", "text")
    pl = (mm.select("doc_id", F.hex("payload").alias("hx"),
                    F.col("meta.byte_len").alias("bl"))
          .filter(F.col("bl") > 0))
    by = pl.select(
        "doc_id", "bl", "hx",
        F.explode(F.sequence(F.lit(0), F.col("bl") - 1)).alias("i")
    ).select("doc_id", "bl",
             F.substring("hx", F.col("i") * 2 + 1, F.lit(2)).alias("byte"))
    cnt = (by.groupBy("doc_id", "byte")
           .agg(F.max("bl").alias("bl"), F.count("*").alias("c")))
    p = F.col("c") * 1.0 / F.col("bl")
    return (cnt.withColumn("_t", -p * F.log(p))
            .groupBy("doc_id")
            .agg(F.max("bl").alias("byte_len"),
                 F.count("*").alias("distinct_bytes"),
                 F.sum("_t").alias("h"))
            .select(F.col("doc_id").cast("bigint").alias("doc_id"),
                    F.col("byte_len").cast("bigint").alias("byte_len"),
                    F.col("distinct_bytes").cast("bigint")
                    .alias("distinct_bytes"),
                    F.round(F.col("h") / F.log(F.lit(2.0)), 6)
                    .alias("entropy_bits")))


def _mcnemar_oracle() -> str:
    score = {lang: f"len(list_filter(t, x -> list_contains({_SW[lang]}, x)))"
                   " * 1.0 / len(t)"
             for lang in X.STOPWORDS}
    pred = f"""CASE WHEN {score['en']} >= {score['de']}
                 AND {score['en']} >= {score['es']}
                 AND {score['en']} >= {score['fr']} THEN 'en'
                WHEN {score['de']} >= {score['es']}
                 AND {score['de']} >= {score['fr']} THEN 'de'
                WHEN {score['es']} >= {score['fr']} THEN 'es'
                ELSE 'fr' END"""
    return f"""
    WITH base AS (SELECT doc_id, lang,
                         string_split(text, ' ') AS t FROM documents),
    p AS (SELECT CASE WHEN {pred} = lang THEN 1 ELSE 0 END AS a_ok,
                 CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS b_ok
          FROM base),
    agg AS (SELECT count(*) AS n, sum(a_ok) AS na, sum(b_ok) AS nb,
                   sum(CASE WHEN a_ok = 1 AND b_ok = 0
                            THEN 1 ELSE 0 END) AS b,
                   sum(CASE WHEN a_ok = 0 AND b_ok = 1
                            THEN 1 ELSE 0 END) AS c
            FROM p)
    SELECT CAST(n AS BIGINT) AS n,
           round(na * 1.0 / n, 6) AS acc_model,
           round(nb * 1.0 / n, 6) AS acc_baseline,
           CAST(b AS BIGINT) AS b_discordant,
           CAST(c AS BIGINT) AS c_discordant,
           round((b - c) * (b - c) * 1.0 / nullif(b + c, 0), 6)
               AS mcnemar_chi2
    FROM agg
    """


@query("eval_mcnemar", oracle=_mcnemar_oracle())
def eval_mcnemar(spark, sf):
    """McNemar's paired test between the stopword language-ID and the
    predict-the-majority-class baseline on the SAME documents: the
    discordant counts b (model right, baseline wrong) and c (baseline
    right, model wrong) and the chi-square statistic (b-c)^2/(b+c) —
    the correct way to compare two classifiers evaluated on one test
    set (unpaired accuracy comparison wastes the pairing and
    overstates noise).  One scan to paired verdicts, ONE global agg;
    every count is integer-exact, divisions happen at emit."""
    docs = T(spark, sf, "documents")
    pred = (X.language_id(docs, "doc_id", "text")
            .select(F.col("doc_id").alias("_pid"), "pred_lang"))
    p = (docs.select("doc_id", "lang")
         .join(pred, F.col("doc_id") == F.col("_pid"))
         .select((F.col("pred_lang") == F.col("lang"))
                 .cast("long").alias("a_ok"),
                 (F.col("lang") == "en").cast("long").alias("b_ok")))
    agg = p.agg(
        F.count("*").alias("n"), F.sum("a_ok").alias("na"),
        F.sum("b_ok").alias("nb"),
        F.sum(((F.col("a_ok") == 1) & (F.col("b_ok") == 0)).cast("long"))
        .alias("b"),
        F.sum(((F.col("a_ok") == 0) & (F.col("b_ok") == 1)).cast("long"))
        .alias("c"))
    return agg.select(
        F.col("n").cast("bigint").alias("n"),
        F.round(F.col("na") * 1.0 / F.col("n"), 6).alias("acc_model"),
        F.round(F.col("nb") * 1.0 / F.col("n"), 6).alias("acc_baseline"),
        F.col("b").cast("bigint").alias("b_discordant"),
        F.col("c").cast("bigint").alias("c_discordant"),
        F.round((F.col("b") - F.col("c")) * (F.col("b") - F.col("c"))
                * 1.0 / F.nullif(F.col("b") + F.col("c"), F.lit(0)), 6)
        .alias("mcnemar_chi2"))


@query(
    "text_sentence_stats",
    oracle=r"""
    WITH t AS (SELECT doc_id,
                      list_filter(string_split_regex(text, '[.!?]+'),
                                  s -> len(trim(s)) > 0) AS ss
               FROM documents),
    w AS (SELECT doc_id, len(ss) AS ns,
                 list_transform(ss,
                     s -> len(string_split_regex(trim(s), '\s+'))) AS wc
          FROM t)
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(ns AS BIGINT) AS n_sentences,
           CAST(coalesce(list_sum(wc), 0) AS BIGINT) AS n_words,
           round(coalesce(list_sum(wc), 0) * 1.0 / nullif(ns, 0), 6)
               AS mean_sentence_words,
           CAST(list_max(wc) AS BIGINT) AS max_sentence_words
    FROM w
    """)
def text_sentence_stats(spark, sf):
    """Sentence-grain shape statistics per document: sentence count
    (split on [.!?]+ runs, whitespace-only segments dropped), total
    and mean words per sentence, and the longest sentence — the
    run-on / fragment detector between the word-grain text_stats and
    the doc-grain readability score.  Pure array expressions (split /
    filter / transform / aggregate) — per-row, no shuffle at all, no
    UDF; whole-stage codegen end to end.  Counts integer; the single
    mean divides at emit (nullif guards sentence-free docs)."""
    ss = F.filter(F.split(F.col("text"), r"[.!?]+"),
                  lambda s: F.length(F.trim(s)) > 0)
    wc = F.transform(ss, lambda s: F.size(F.split(F.trim(s), r"\s+")))
    base = T(spark, sf, "documents").select(
        "doc_id", F.size(ss).alias("ns"), wc.alias("wc"))
    nw = F.aggregate("wc", F.lit(0), lambda a, x: a + x)
    return base.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.col("ns").cast("bigint").alias("n_sentences"),
        nw.cast("bigint").alias("n_words"),
        F.round(nw * 1.0 / F.nullif(F.col("ns"), F.lit(0)), 6)
        .alias("mean_sentence_words"),
        F.array_max("wc").cast("bigint").alias("max_sentence_words"))


@query(
    "multimodal_format_sniff",
    oracle="""
    WITH pl AS (SELECT doc_id,
                       concat(CASE doc_id % 4
                                WHEN 0 THEN '89504E47'
                                WHEN 1 THEN 'FFD8FFE0'
                                WHEN 2 THEN '52494646'
                                ELSE '' END,
                              upper(hex(encode(text)))) AS hx,
                       octet_length(encode(text))
                         + CASE WHEN doc_id % 4 = 3 THEN 0 ELSE 4 END
                           AS bl
                FROM documents),
    cls AS (SELECT CASE WHEN hx LIKE '89504E47%' THEN 'png'
                        WHEN hx LIKE 'FFD8FF%' THEN 'jpeg'
                        WHEN hx LIKE '52494646%' THEN 'riff'
                        ELSE 'unknown' END AS format,
                   bl
            FROM pl)
    SELECT format,
           CAST(count(*) AS BIGINT) AS n_payloads,
           CAST(sum(bl) AS BIGINT) AS total_bytes,
           CAST(min(bl) AS BIGINT) AS min_bytes,
           CAST(max(bl) AS BIGINT) AS max_bytes
    FROM cls GROUP BY 1
    """)
def multimodal_format_sniff(spark, sf):
    """Container-format sniffing by MAGIC BYTES over opaque binary
    payloads — the codec-free router that splits a mixed 100 TB blob
    column into per-format processing paths (PNG / JPEG / RIFF /
    unknown) without decoding anything: classify on hex(substring
    (payload, 1, 4)), never on content.  Test payloads get a
    deterministic magic header stamped by doc_id % 4 (the synthetic
    corpus is all text; the header synthesis is hex-domain identical
    in the oracle, the near-dup precedent).  One map-side projection
    + a 4-row format-grain agg; payload bytes never leave the
    executor."""
    mm = M.attach_payload(T(spark, sf, "documents"), "doc_id", "text")
    magic = (F.when(F.col("doc_id") % 4 == 0, F.lit("89504E47"))
             .when(F.col("doc_id") % 4 == 1, F.lit("FFD8FFE0"))
             .when(F.col("doc_id") % 4 == 2, F.lit("52494646"))
             .otherwise(F.lit("")))
    pl = mm.select(
        F.concat(F.unhex(magic), F.col("payload")).alias("payload"))
    hx8 = F.upper(F.hex(F.substring("payload", 1, 4)))
    cls = pl.select(
        F.when(hx8.startswith("89504E47"), F.lit("png"))
        .when(hx8.startswith("FFD8FF"), F.lit("jpeg"))
        .when(hx8.startswith("52494646"), F.lit("riff"))
        .otherwise(F.lit("unknown")).alias("format"),
        F.octet_length("payload").cast("bigint").alias("bl"))
    return cls.groupBy("format").agg(
        F.count("*").cast("bigint").alias("n_payloads"),
        F.sum("bl").cast("bigint").alias("total_bytes"),
        F.min("bl").cast("bigint").alias("min_bytes"),
        F.max("bl").cast("bigint").alias("max_bytes"))


RAKE_MAX_LEN = 4     # longest candidate phrase (tokens)
RAKE_TOP_K = 20


@query(
    "text_rake_keyphrases",
    headline=True,        # r8 verdict #4: tracked wall-time + DuckDB comparator
    oracle=f"""
    WITH base AS (SELECT doc_id, string_split(text, ' ') AS t
                  FROM documents),
    toks AS (SELECT doc_id, i AS pos, t[i] AS tok
             FROM base, LATERAL (SELECT unnest(generate_series(1, len(t)))
                                 AS i) g),
    ne AS (SELECT doc_id, tok,
                  row_number() OVER (PARTITION BY doc_id
                                     ORDER BY pos) AS seq
           FROM toks WHERE tok <> ''),
    isl AS (SELECT doc_id, seq AS pos, tok,
                   seq - row_number() OVER (PARTITION BY doc_id
                                            ORDER BY seq) AS anchor
            FROM ne WHERE NOT list_contains({_EN}, tok)),
    ph AS (SELECT doc_id, anchor,
                  string_agg(tok, ' ' ORDER BY pos) AS phrase,
                  count(*) AS plen
           FROM isl GROUP BY 1, 2 HAVING count(*) <= {RAKE_MAX_LEN}),
    iw AS (SELECT doc_id, anchor, phrase, plen,
                  unnest(string_split(phrase, ' ')) AS w
           FROM ph),
    ws AS (SELECT w, CAST(count(*) AS BIGINT) AS freq,
                  CAST(sum(plen) AS BIGINT) AS deg
           FROM iw GROUP BY 1),
    sc AS (SELECT doc_id, anchor, phrase,
                  sum(deg * 1.0 / freq) AS score
           FROM iw JOIN ws USING (w) GROUP BY 1, 2, 3),
    agg AS (SELECT phrase,
                   CAST(count(*) AS BIGINT) AS n_occurrences,
                   round(max(score), 6) AS score
            FROM sc GROUP BY 1)
    SELECT phrase, n_occurrences, score
    FROM agg ORDER BY score DESC, phrase LIMIT {RAKE_TOP_K}
    """)
def text_rake_keyphrases(spark, sf):
    """RAKE keyphrase extraction (Rose et al. 2010): candidate phrases
    are maximal runs of non-stopword tokens (stopwords are the
    delimiters), scored by sum over member words of degree/frequency —
    degree rewards words that travel in long phrases, frequency
    penalizes ubiquitous ones.  Top-20 corpus keyphrases, the
    unsupervised topic probe next to TF-IDF (document-grain) and PMI
    (bigram-grain).  Shapes: runs found with the gaps-and-islands
    trick per document (non-empty-token seq minus per-doc row_number,
    so whitespace runs never split a phrase; all windows
    partitioned), phrases capped at 4 tokens, word stats aggregated
    on the vocabulary-bounded word relation and joined back; deg/freq
    stay integer, the per-phrase score (<= 4 rational terms) rounds
    to 6dp before the rank, and the phrase string breaks rank ties so
    LIMIT is deterministic in both engines."""
    toks = (T(spark, sf, "documents")
            .select("doc_id", F.posexplode(F.split("text", " "))
                    .alias("pos", "tok")))
    # renumber over NON-EMPTY tokens first: a run of spaces produces
    # empty tokens whose raw positions would otherwise split a phrase
    # run in two (the 'machine  learning' double-space case)
    w = Window.partitionBy("doc_id").orderBy("pos")
    ne = (toks.filter(F.col("tok") != "")
          .select("doc_id", "tok", F.row_number().over(w).alias("seq")))
    ws_ = Window.partitionBy("doc_id").orderBy("seq")
    isl = (ne.filter(~F.col("tok").isin(X.STOPWORDS["en"]))
           .select("doc_id", F.col("seq").alias("pos"), "tok",
                   (F.col("seq") - F.row_number().over(ws_))
                   .alias("anchor")))
    ph = (isl.groupBy("doc_id", "anchor")
          .agg(F.concat_ws(
                   " ",
                   F.transform(
                       F.array_sort(F.collect_list(
                           F.struct("pos", "tok"))),
                       lambda s: s["tok"])).alias("phrase"),
               F.count("*").alias("plen"))
          .filter(F.col("plen") <= RAKE_MAX_LEN))
    # r14 plan diet (r13 verdict #7; guide §2.4): a phrase's score is a
    # pure function of the phrase STRING (sum of its words' deg/freq),
    # so every occurrence of the same string scores identically and the
    # oracle's max-over-occurrences is that one value.  Collapse to
    # DISTINCT phrases first (one phrase-grain agg carrying the
    # occurrence count), then run the word explode + stats join on the
    # vocabulary-bounded distinct-phrase relation instead of the full
    # occurrence grain — word stats are reweighted by n_occurrences
    # (integer arithmetic, so freq/deg are exactly the occurrence-grain
    # counts) and the former occurrence-grain score agg + separate
    # phrase-grain max agg fuse into ONE phrase-grain agg.
    pocc = (ph.groupBy("phrase")
            .agg(F.count("*").cast("bigint").alias("n_occurrences"),
                 F.max("plen").alias("plen")))
    iw = pocc.select("phrase", "plen", "n_occurrences",
                     F.explode(F.split("phrase", " ")).alias("w"))
    ws = (iw.groupBy("w")
          .agg(F.sum("n_occurrences").cast("bigint").alias("freq"),
               F.sum(F.col("plen") * F.col("n_occurrences"))
               .cast("bigint").alias("deg")))
    # shuffle_hash pins the join strategy: left to AQE, converting ws
    # to a broadcast depends on which of two concurrent stages finishes
    # first, so the job count (6 or 7) changes from run to run
    sc = (iw.join(ws.hint("shuffle_hash"), "w")
          .groupBy("phrase", "n_occurrences")
          .agg(F.round(F.sum(F.col("deg") * 1.0 / F.col("freq")), 6)
               .alias("score")))
    return (sc.select("phrase", "n_occurrences", "score")
            .orderBy(F.col("score").desc(), "phrase").limit(RAKE_TOP_K))


PASSAGE_W = 10


@query(
    "text_passage_dedup",
    oracle=f"""
    WITH base AS (SELECT doc_id,
                         list_filter(string_split(text, ' '),
                                     x -> x <> '') AS t
                  FROM documents WHERE length(text) > 0),
    idxs AS (SELECT doc_id, t,
                    unnest(generate_series(
                        0, CAST(ceil(len(t) / {PASSAGE_W}.0) AS BIGINT)
                           - 1)) AS idx
             FROM base WHERE len(t) > 0),
    pas AS (SELECT doc_id, idx,
                   md5(array_to_string(
                       t[idx * {PASSAGE_W} + 1 : (idx + 1) * {PASSAGE_W}],
                       ' ')) AS h
            FROM idxs),
    flagged AS (SELECT doc_id,
                       CASE WHEN row_number() OVER (PARTITION BY h
                                 ORDER BY doc_id, idx) > 1
                            THEN 1 ELSE 0 END AS dup
                FROM pas)
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(count(*) AS BIGINT) AS n_passages,
           CAST(sum(dup) AS BIGINT) AS n_dup_passages,
           round(sum(dup) * 1.0 / count(*), 6) AS dup_ratio
    FROM flagged GROUP BY doc_id
    """)
def text_passage_dedup(spark, sf):
    """Intra-corpus passage-level exact dedup
    (fmx.operators.text.passage_dedup): the CCNet/C4 paragraph-hash
    trick over fixed 10-word passages (this corpus has no paragraph
    breaks), marking every passage whose hash already occurred
    earlier in (doc, offset) order — the sub-document dedup stage
    that document-level fingerprints miss (boilerplate shared across
    distinct pages).  Passages are generated map-side (explode +
    slice, no token shuffle); the first-occurrence decision is one
    ranking window on the hash grain; the per-doc rollup is a hash
    agg."""
    return X.passage_dedup(T(spark, sf, "documents"), "doc_id", "text",
                           width=PASSAGE_W)


@query(
    "text_mattr",
    oracle=f"""
    WITH base AS (SELECT doc_id,
                         list_filter(string_split(text, ' '),
                                     x -> x <> '') AS t
                  FROM documents),
    ex AS (SELECT doc_id, len(t) AS n, t[p] AS tok, p
           FROM base, LATERAL (SELECT unnest(generate_series(1, len(t)))
                               AS p) _
           WHERE len(t) >= {PASSAGE_W}),
    lagged AS (SELECT doc_id, n, p,
                      coalesce(lag(p) OVER (PARTITION BY doc_id, tok
                                            ORDER BY p), 0) AS prev
               FROM ex),
    contrib AS (SELECT doc_id, n,
                       greatest(least(p, n - {PASSAGE_W} + 1)
                                - greatest(prev + 1,
                                           p - {PASSAGE_W} + 1, 1) + 1,
                                0) AS c
                FROM lagged),
    types AS (SELECT doc_id, count(DISTINCT tok) AS ty
              FROM ex GROUP BY 1)
    SELECT CAST(contrib.doc_id AS BIGINT) AS doc_id,
           CAST(max(n) AS BIGINT) AS n_tokens,
           CAST(max(n) - {PASSAGE_W} + 1 AS BIGINT) AS n_windows,
           round(sum(c) * 1.0
                 / ({PASSAGE_W} * (max(n) - {PASSAGE_W} + 1)), 6)
               AS mattr,
           round(max(ty) * 1.0 / max(n), 6) AS ttr
    FROM contrib JOIN types ON contrib.doc_id = types.doc_id
    GROUP BY contrib.doc_id
    """)
def text_mattr(spark, sf):
    """Moving-Average Type-Token Ratio lexical diversity
    (fmx.operators.text.mattr_diversity) over 10-token sliding
    windows — the length-robust diversity signal (plain TTR collapses
    as documents grow, so it cannot rank a mixed-length corpus).
    The naive form materializes n_windows x width token rows; this is
    the CLOSED FORM: one lag window per (doc, token) occurrence gives
    each position the count of windows in which it is the first
    occurrence, so MATTR is an exact integer sum over the token grain
    divided once — both engines agree bit-for-bit until the final
    division."""
    return X.mattr_diversity(T(spark, sf, "documents"), "doc_id",
                             "text", width=PASSAGE_W)


@query(
    "text_vocab_coverage_curve",
    oracle="""
    WITH toks AS (SELECT unnest(list_filter(string_split(text, ' '),
                                            x -> x <> '')) AS tok
                  FROM documents),
    vocab AS (SELECT tok, CAST(count(*) AS BIGINT) AS c
              FROM toks GROUP BY 1),
    ranked AS (SELECT c,
                      row_number() OVER (ORDER BY c DESC, tok) AS r,
                      CAST(sum(c) OVER () AS BIGINT) AS total,
                      CAST(count(*) OVER () AS BIGINT) AS v
               FROM vocab),
    cum AS (SELECT r, total, v,
                   CAST(sum(c) OVER (ORDER BY r
                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cm
            FROM ranked)
    SELECT CAST(k AS BIGINT) AS top_k,
           CAST(max(CASE WHEN r <= k THEN cm END) AS BIGINT)
               AS tokens_covered,
           CAST(min(total) AS BIGINT) AS total_tokens,
           round(max(CASE WHEN r <= k THEN cm END) * 1.0 / min(total), 6)
               AS coverage
    FROM cum CROSS JOIN (SELECT unnest([5, 10, 25]) AS k)
    WHERE k <= v
    GROUP BY k
    """)
def text_vocab_coverage_curve(spark, sf):
    """Vocabulary coverage curve: what fraction of the corpus's token
    MASS the top-5/10/25 most frequent types cover (levels sized to
    this corpus's 31-type synthetic vocabulary; production corpora use
    10/100/1000... — the shape is identical) — the
    tokenizer-budget readout (how big a vocab buys how much coverage,
    the integral view of the Zipf slope).  Scale shape: one explode +
    token hash-agg (map-side combinable), then every window runs on
    the VOCAB grain; integer cumulative sums, one division per
    emitted row.  Rank ties break on the token string."""
    toks = (T(spark, sf, "documents")
            .select(F.explode(F.filter(F.split(F.col("text"), " "),
                                       lambda x: x != "")).alias("tok")))
    vocab = toks.groupBy("tok").agg(F.count("*").cast(BIG).alias("c"))
    wr = Window.orderBy(F.col("c").desc(), "tok")
    wall = Window.partitionBy()
    ranked = vocab.select(
        "c", F.row_number().over(wr).alias("r"),
        F.sum("c").over(wall).cast(BIG).alias("total"),
        F.count("*").over(wall).cast(BIG).alias("v"))
    wcum = (Window.orderBy("r")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    cum = ranked.select("r", "total", "v",
                        F.sum("c").over(wcum).cast(BIG).alias("cm"))
    ks = F.broadcast(
        cum.sparkSession.createDataFrame([(5,), (10,), (25,)],
                                         "k int"))
    return (cum.crossJoin(ks)
            .filter(F.col("k") <= F.col("v"))
            .groupBy(F.col("k").cast(BIG).alias("top_k"))
            .agg(F.max(F.when(F.col("r") <= F.col("k"), F.col("cm")))
                 .cast(BIG).alias("tokens_covered"),
                 F.min("total").cast(BIG).alias("total_tokens"))
            .withColumn("coverage",
                        F.round(F.col("tokens_covered") * 1.0
                                / F.col("total_tokens"), 6)))


@query(
    "text_hapax_ratio",
    oracle="""
    WITH toks AS (SELECT source,
                         unnest(list_filter(string_split(text, ' '),
                                            x -> x <> '')) AS tok
                  FROM documents),
    vocab AS (SELECT source, tok, CAST(count(*) AS BIGINT) AS c
              FROM toks GROUP BY 1, 2)
    SELECT source,
           CAST(count(*) AS BIGINT) AS vocab_size,
           CAST(sum(c) AS BIGINT) AS n_tokens,
           CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_hapax,
           round(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) * 1.0
                 / count(*), 6) AS hapax_vocab_share,
           round(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) * 1.0
                 / sum(c), 6) AS hapax_mass_share
    FROM vocab GROUP BY source
    """)
def text_hapax_ratio(spark, sf):
    """Hapax legomena profile per source: how much of each source's
    vocabulary (and token mass) occurs exactly once — the
    productivity/noise signal that separates organic long-tail text
    (hapax-rich) from template/boilerplate factories (hapax-poor),
    and the empirical check on the Zipf tail the slope extrapolates.
    One explode + (source, token) hash-agg, then a source-grain
    rollup — integer counts, two divisions at emit."""
    toks = (T(spark, sf, "documents")
            .select("source",
                    F.explode(F.filter(F.split(F.col("text"), " "),
                                       lambda x: x != "")).alias("tok")))
    vocab = (toks.groupBy("source", "tok")
             .agg(F.count("*").cast(BIG).alias("c")))
    return (vocab.groupBy("source")
            .agg(F.count("*").cast(BIG).alias("vocab_size"),
                 F.sum("c").cast(BIG).alias("n_tokens"),
                 F.sum(F.when(F.col("c") == 1, 1).otherwise(0)).cast(BIG)
                 .alias("n_hapax"))
            .select("source", "vocab_size", "n_tokens", "n_hapax",
                    F.round(F.col("n_hapax") * 1.0 / F.col("vocab_size"),
                            6).alias("hapax_vocab_share"),
                    F.round(F.col("n_hapax") * 1.0 / F.col("n_tokens"),
                            6).alias("hapax_mass_share")))


@query(
    "text_bigram_lm_ppl",
    oracle="""
    WITH toks AS (SELECT doc_id,
                         list_filter(string_split(text, ' '),
                                     x -> x <> '') AS t
                  FROM documents),
    big AS (SELECT doc_id, t[i] AS a, t[i + 1] AS b
            FROM toks, LATERAL (SELECT unnest(generate_series(1,
                                len(t) - 1)) AS i) g
            WHERE len(t) >= 2),
    cab AS (SELECT a, b, CAST(count(*) AS BIGINT) AS cab
            FROM big GROUP BY a, b),
    hist AS (SELECT a, CAST(count(*) AS BIGINT) AS ch
             FROM big GROUP BY a),
    v AS (SELECT CAST(count(DISTINCT tok) AS BIGINT) AS v
          FROM (SELECT unnest(t) AS tok FROM toks)),
    lp AS (SELECT big.doc_id,
                  ln((cab.cab + 1.0) / (hist.ch + v.v)) AS l
           FROM big JOIN cab USING (a, b)
                    JOIN hist USING (a)
                    CROSS JOIN v)
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           round(exp(-sum(l) / count(*)), 4) AS ppl
    FROM lp GROUP BY doc_id
    """)
def text_bigram_lm_ppl(spark, sf):
    """Per-document perplexity under an add-one-smoothed corpus BIGRAM
    language model — the sequence-aware upgrade of text_perplexity's
    unigram scorer (template/boilerplate docs score near 1, shuffled
    or out-of-domain text blows up).  P(b|a) = (c_ab+1)/(c_a+V) with
    history counts c_a = sum_b c_ab, so every probability is a ratio
    of exact integers; the per-doc ln-sum is the only float (rounded
    at 4, the text_pmi precedent).  Shapes: bigram expansion is the
    map-side array zip; the model join runs bigram-grain against the
    vocabulary-bounded count relations (broadcastable at any corpus
    size: |V|^2 tops)."""
    d = T(spark, sf, "documents")
    arr = F.filter(F.split(F.col("text"), " "), lambda x: x != "")
    toks = d.select("doc_id", arr.alias("_t"))
    big = (toks.filter(F.size("_t") >= 2)
           .select("doc_id", F.explode(F.arrays_zip(
               F.slice("_t", 1, F.size("_t") - 1),
               F.slice("_t", 2, F.size("_t") - 1))).alias("_p"))
           .select("doc_id", F.col("_p.0").alias("a"),
                   F.col("_p.1").alias("b")))
    cab = big.groupBy("a", "b").agg(F.count("*").cast(BIG).alias("cab"))
    hist = big.groupBy("a").agg(F.count("*").cast(BIG).alias("ch"))
    v = (toks.select(F.explode("_t").alias("tok"))
         .agg(F.count_distinct("tok").cast(BIG).alias("v")))
    lp = (big.join(cab, ["a", "b"]).join(hist, "a")
          .crossJoin(F.broadcast(v))
          .select("doc_id",
                  F.log((F.col("cab") + 1.0) / (F.col("ch") + F.col("v")))
                  .alias("l")))
    return (lp.groupBy("doc_id")
            .agg(F.count("*").cast(BIG).alias("n_bigrams"),
                 F.round(F.exp(-F.sum("l") / F.count("*")), 4).alias("ppl"))
            .select(F.col("doc_id").cast(BIG).alias("doc_id"),
                    "n_bigrams", "ppl"))


@query(
    "text_burrows_delta",
    oracle="""
    WITH toks AS (SELECT source, unnest(list_filter(
                      string_split(text, ' '), x -> x <> '')) AS tok
                  FROM documents),
    n_sw AS (SELECT source, tok, CAST(count(*) AS BIGINT) AS n
             FROM toks GROUP BY 1, 2),
    t_s AS (SELECT source, CAST(count(*) AS BIGINT) AS t
            FROM toks GROUP BY 1),
    w AS (SELECT tok FROM (
            SELECT tok, sum(n) AS c FROM n_sw GROUP BY tok
            ORDER BY c DESC, tok LIMIT 20)),
    grid AS (SELECT t_s.source, w.tok, t_s.t,
                    coalesce(n_sw.n, 0) AS n
             FROM t_s CROSS JOIN w
             LEFT JOIN n_sw ON n_sw.source = t_s.source
                           AND n_sw.tok = w.tok),
    f AS (SELECT source, tok, CAST(n AS DOUBLE) / t AS f FROM grid),
    st AS (SELECT tok, avg(f) AS mu,
                  sqrt(avg(f * f) - avg(f) * avg(f)) AS sg
           FROM f GROUP BY tok),
    z AS (SELECT f.source, f.tok,
                 round((f.f - st.mu) / nullif(st.sg, 0.0), 8) AS z
          FROM f JOIN st USING (tok)),
    delta AS (SELECT a.source AS source_a, b.source AS source_b,
                     round(avg(abs(a.z - b.z)), 6) AS delta
              FROM z a JOIN z b
                ON a.tok = b.tok AND a.source < b.source
              GROUP BY 1, 2)
    SELECT source_a, source_b, delta,
           CAST(row_number() OVER (ORDER BY delta, source_a, source_b)
                AS BIGINT) AS rank
    FROM delta QUALIFY rank <= 10
    """)
def text_burrows_delta(spark, sf):
    """Burrows' Delta stylometry between sources: z-score each
    source's relative frequency of the top-20 corpus words against the
    across-source mean/std, then Delta(a,b) = mean |z_a - z_b| — the
    classical authorship-attribution distance, here auditing which
    corpus sources share a template/register (low delta = near-clone
    wording mix).  The z grid is (sources x 20 words) — bounded by
    construction regardless of corpus size; z is rounded at 8 BEFORE
    the pair differencing (the emb_pca round-before-reuse rule) and
    the pair join runs on that tiny grid, never on rows."""
    d = T(spark, sf, "documents")
    arr = F.filter(F.split(F.col("text"), " "), lambda x: x != "")
    toks = d.select("source", F.explode(arr).alias("tok"))
    n_sw = toks.groupBy("source", "tok").agg(
        F.count("*").cast(BIG).alias("n"))
    t_s = toks.groupBy("source").agg(F.count("*").cast(BIG).alias("t"))
    w = (n_sw.groupBy("tok").agg(F.sum("n").alias("c"))
         .orderBy(F.col("c").desc(), "tok").limit(20).select("tok"))
    grid = (t_s.crossJoin(F.broadcast(w))
            .join(n_sw, ["source", "tok"], "left")
            .select("source", "tok", "t",
                    F.coalesce(F.col("n"), F.lit(0)).alias("n")))
    f = grid.select("source", "tok",
                    (F.col("n").cast("double") / F.col("t")).alias("f"))
    st = f.groupBy("tok").agg(
        F.avg("f").alias("mu"),
        F.sqrt(F.avg(F.col("f") * F.col("f"))
               - F.avg("f") * F.avg("f")).alias("sg"))
    z = (f.join(st, "tok")
         .select("source", "tok",
                 F.round((F.col("f") - F.col("mu"))
                         / F.nullif(F.col("sg"), F.lit(0.0)), 8)
                 .alias("z")))
    a, b = z.alias("a"), z.alias("b")
    delta = (a.join(b, (F.col("a.tok") == F.col("b.tok"))
                    & (F.col("a.source") < F.col("b.source")))
             .groupBy(F.col("a.source").alias("source_a"),
                      F.col("b.source").alias("source_b"))
             .agg(F.round(F.avg(F.abs(F.col("a.z") - F.col("b.z"))), 6)
                  .alias("delta")))
    wr = Window.orderBy("delta", "source_a", "source_b")
    return (delta.withColumn("rank", F.row_number().over(wr).cast(BIG))
            .filter(F.col("rank") <= 10))


@query(
    "text_heaps_law",
    oracle="""
    WITH tk AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token
                FROM documents),
    tk2 AS (SELECT doc_id, token FROM tk WHERE token <> ''),
    nd AS (SELECT CAST(max(doc_id) + 1 AS BIGINT) AS nmax FROM documents),
    dtok AS (SELECT CAST((doc_id * 10) // nmax AS INT) AS dec, token
             FROM tk2, nd),
    per AS (SELECT dec, CAST(count(*) AS BIGINT) AS n_tok FROM dtok
            GROUP BY dec),
    first AS (SELECT token, min(dec) AS fdec FROM dtok GROUP BY token),
    vnew AS (SELECT fdec AS dec, CAST(count(*) AS BIGINT) AS v_new
             FROM first GROUP BY fdec),
    cum AS (SELECT p.dec,
                   CAST(sum(p2.n_tok) AS BIGINT) AS n_cum,
                   CAST(sum(coalesce(v2.v_new, 0)) AS BIGINT) AS v_cum
            FROM per p JOIN per p2 ON p2.dec <= p.dec
                       LEFT JOIN vnew v2 ON v2.dec = p2.dec
            GROUP BY p.dec),
    pts AS (SELECT dec, n_cum, v_cum,
                   round(ln(CAST(n_cum AS DOUBLE)), 9) AS lx,
                   round(ln(CAST(v_cum AS DOUBLE)), 9) AS ly
            FROM cum),
    fit AS (SELECT (count(*) * sum(lx * ly) - sum(lx) * sum(ly))
                   / (count(*) * sum(lx * lx) - sum(lx) * sum(lx))
                     AS beta
            FROM pts)
    SELECT CAST(dec AS INT) AS decile, n_cum AS n_tokens, v_cum AS vocab,
           -- "+ 0.0" collapses IEEE signed zero (the feat_cyclical
           -- convention, fmx/queries/__init__.py exactness notes): on
           -- a saturated vocabulary beta is a tiny negative that
           -- DuckDB's round keeps as -0.0 while Spark's BigDecimal
           -- HALF_UP has no negative zero; -0.0 + 0.0 = +0.0.  The
           -- literal is CAST to DOUBLE (the ts_ewma fix's convention,
           -- r13 advice): a bare 0.0 parses as DECIMAL in DuckDB and
           -- only works here because the DOUBLE left operand forces
           -- the promotion — the cast makes that explicit.
           round(beta, 6) + CAST(0.0 AS DOUBLE) AS heaps_beta
    FROM pts, fit
    """)
def text_heaps_law(spark, sf):
    """Heaps'-law vocabulary growth: cumulative distinct vocabulary
    V(n) against cumulative token count n over 10 corpus prefixes
    (doc-id deciles), plus the fitted growth exponent beta from a
    log-log OLS over the 10 points — the curve that predicts how much
    NEW vocabulary another 10x of corpus will bring (V ~ K * n^beta;
    sublinear beta < 1 for natural text).  The scale trick is
    FIRST-OCCURRENCE decile per token (one token-grain agg), which
    turns "cumulative distinct over prefixes" — quadratic if done
    naively — into a linear agg + a 10-row cumulative join.  All
    counts are exact integers; the OLS runs on 9dp-rounded logs
    (identical doubles both engines) and beta lands as one rounded
    column beside the curve.  (On THIS synthetic corpus the ~80-word
    closed vocabulary saturates in the first decile, so beta ~ 0 — the
    mathematically correct reading of a corpus with no vocabulary
    growth; natural text gives the textbook 0.4-0.6.)"""
    docs = T(spark, sf, "documents")
    tk = (docs.select("doc_id",
                      F.explode(F.split("text", " ")).alias("token"))
          .filter(F.col("token") != ""))
    nd = docs.agg((F.max("doc_id") + 1).cast("bigint").alias("nmax"))
    dtok = (tk.crossJoin(F.broadcast(nd))
            .select(F.expr("CAST((doc_id * 10) DIV nmax AS INT)")
                    .alias("dec"), "token"))
    per = dtok.groupBy("dec").agg(F.count("*").cast("bigint")
                                  .alias("n_tok"))
    first = dtok.groupBy("token").agg(F.min("dec").alias("fdec"))
    vnew = first.groupBy(F.col("fdec").alias("dec")).agg(
        F.count("*").cast("bigint").alias("v_new"))
    p2 = per.select(F.col("dec").alias("dec2"),
                    F.col("n_tok").alias("n2"))
    v2 = vnew.select(F.col("dec").alias("dec2"),
                     F.col("v_new").alias("vn2"))
    cum = (per.select("dec")
           .join(p2, F.col("dec2") <= F.col("dec"))
           .join(v2, "dec2", "left")
           .groupBy("dec")
           .agg(F.sum("n2").cast("bigint").alias("n_cum"),
                F.sum(F.coalesce("vn2", F.lit(0))).cast("bigint")
                .alias("v_cum")))
    pts = cum.select(
        "dec", "n_cum", "v_cum",
        F.round(F.log(F.col("n_cum").cast("double")), 9).alias("lx"),
        F.round(F.log(F.col("v_cum").cast("double")), 9).alias("ly"))
    fit = pts.agg(
        ((F.count("*") * F.sum(F.col("lx") * F.col("ly"))
          - F.sum("lx") * F.sum("ly"))
         / (F.count("*") * F.sum(F.col("lx") * F.col("lx"))
            - F.sum("lx") * F.sum("lx"))).alias("beta"))
    return (pts.crossJoin(F.broadcast(fit))
            .select(F.col("dec").cast("int").alias("decile"),
                    F.col("n_cum").alias("n_tokens"),
                    F.col("v_cum").alias("vocab"),
                    # + 0.0 mirrors the oracle's signed-zero collapse
                    # (no-op for Spark's HALF_UP round, which never
                    # emits -0.0 — symmetry per the exactness notes)
                    (F.round("beta", 6) + 0.0).alias("heaps_beta")))


@query(
    "text_js_divergence",
    oracle="""
    WITH toks AS (SELECT source, unnest(string_split(text, ' ')) AS token
                  FROM documents),
    tf AS (SELECT source, token FROM toks WHERE token <> ''),
    allc AS (SELECT token, count(*) AS ca FROM tf GROUP BY token),
    topk AS (SELECT token, ca FROM allc ORDER BY ca DESC, token LIMIT 200),
    gc AS (SELECT tf.source, tf.token, count(*) AS c
           FROM tf JOIN topk USING (token) GROUP BY tf.source, tf.token),
    dense AS (
      SELECT g.source, t.token, t.ca, coalesce(gc.c, 0) AS c
      FROM (SELECT DISTINCT source FROM documents) g
      CROSS JOIN topk t
      LEFT JOIN gc ON gc.source = g.source AND gc.token = t.token),
    sized AS (
      SELECT source, token, ca, c,
             sum(c) OVER (PARTITION BY source) AS ng,
             sum(c) OVER () AS na
      FROM dense),
    pq AS (
      SELECT source, ng,
             (c + 0.5) / (ng + 100.0) AS p,
             ((ca - c) + 0.5) / ((na - ng) + 100.0) AS q
      FROM sized)
    SELECT source, CAST(first(ng) AS BIGINT) AS n_tokens,
           round(sum(0.5 * p * ln(p / ((p + q) / 2.0))
                     + 0.5 * q * ln(q / ((p + q) / 2.0))), 6)
               AS js_divergence,
           round(sum(0.5 * p * ln(p / ((p + q) / 2.0))
                     + 0.5 * q * ln(q / ((p + q) / 2.0))) / ln(2), 6)
               AS js_normalized
    FROM pq GROUP BY source
    """)
def text_js_divergence(spark, sf):
    """Per-source Jensen-Shannon divergence vs the rest of the corpus
    (fmx.operators.text.vocab_js_by_group — top-200 tokens, Laplace
    0.5): the symmetric, [0, ln 2]-bounded twin of
    text_vocab_kl_by_source, sharing its dense relation and smoothing
    through the single-sourced _vocab_dense_pq builder.  The number a
    corpus-drift monitor thresholds (JSD is finite even on disjoint
    support) and mixture solvers feed (sqrt JSD is a metric)."""
    return X.vocab_js_by_group(T(spark, sf, "documents"), "source",
                               "text", k=200, alpha=0.5)


@query(
    "text_yules_k",
    oracle="""
    WITH toks AS (SELECT lang, unnest(string_split(text, ' ')) AS token
                  FROM documents),
    tc AS (SELECT lang, token, CAST(count(*) AS BIGINT) AS c
           FROM toks WHERE token <> '' GROUP BY lang, token),
    m AS (SELECT lang,
                 CAST(sum(c) AS DECIMAL(38,0)) AS n,
                 CAST(count(*) AS BIGINT) AS v,
                 CAST(sum(CAST(c AS DECIMAL(38,0)) * c)
                      AS DECIMAL(38,0)) AS s2
          FROM tc GROUP BY lang)
    SELECT lang, CAST(n AS BIGINT) AS n_tokens, v AS vocab,
           round(10000.0 * (CAST(s2 AS DOUBLE) - CAST(n AS DOUBLE))
                 / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)), 6)
               AS yules_k
    FROM m ORDER BY lang
    """)
def text_yules_k(spark, sf):
    """Yule's characteristic K per language — the classical
    sample-size-invariant lexical-richness constant:
    K = 10^4 * (sum_m m^2 V_m - N) / N^2, which collapses to
    10^4 * (sum_types c^2 - N) / N^2 — i.e. ONE (lang, token) count
    agg then one per-lang agg, no frequency-of-frequency relation
    needed.  Complements text_heaps_law (vocab GROWTH curve) and
    text_mattr_diversity (windowed type/token) with the repeated-use
    concentration readout; plagiarism/boilerplate-heavy corpora show
    elevated K.  All sums are exact integers in DECIMAL(38,0) (c^2
    overflows BIGINT at web-scale token counts); K is one double
    formula.  Tokenization is the corpus-wide whitespace convention
    (empty tokens dropped, as text_vocab_topk)."""
    toks = (T(spark, sf, "documents")
            .select("lang", F.explode(F.split("text", " ")).alias("token"))
            .filter(F.col("token") != ""))
    tc = toks.groupBy("lang", "token").agg(
        F.count("*").cast(BIG).alias("c"))
    m = tc.groupBy("lang").agg(
        F.sum("c").cast(DEC).alias("n"),
        F.count("*").cast(BIG).alias("v"),
        F.sum(F.col("c").cast(DEC) * F.col("c")).cast(DEC).alias("s2"))
    return m.select(
        "lang", F.col("n").cast(BIG).alias("n_tokens"),
        F.col("v").alias("vocab"),
        F.round(10000.0 * (F.col("s2").cast("double")
                           - F.col("n").cast("double"))
                / (F.col("n").cast("double") * F.col("n").cast("double")),
                6).alias("yules_k"))


@query(
    "text_good_turing",
    oracle="""
    WITH toks AS (SELECT source, unnest(string_split(text, ' '))
                      AS token
                  FROM documents),
    tc AS (SELECT source, token, CAST(count(*) AS BIGINT) AS c
           FROM toks WHERE token <> '' GROUP BY source, token),
    m AS (SELECT source,
                 CAST(sum(c) AS BIGINT) AS n,
                 CAST(count(*) AS BIGINT) AS v,
                 CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
                     AS n1,
                 CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT)
                     AS n2
          FROM tc GROUP BY source)
    SELECT source, n AS n_tokens, v AS vocab, n1 AS hapaxes,
           n2 AS dis_legomena,
           round(CAST(n1 AS DOUBLE) / n, 6) AS unseen_mass,
           round(CASE WHEN n1 > 0 THEN 2.0 * n2 / n1 ELSE 0.0 END, 6)
               AS r1_star
    FROM m ORDER BY source
    """)
def text_good_turing(spark, sf):
    """Good-Turing vocabulary statistics per source: the
    frequency-of-frequency estimates every coverage planner wants —
    unseen probability mass p0 = n1/N (share of the NEXT token that
    will be a never-seen type; Good 1953) and the smoothed count
    r1* = 2*n2/n1 for hapaxes.  A source with high unseen mass is
    under-sampled relative to its vocabulary (keep crawling); one
    near zero is saturated — the decision [[text_heaps_law]]'s growth
    exponent informs asymptotically, read here from the current
    sample directly.  One (source, token) count agg + one per-source
    agg over exact integer counts; tokenization is the corpus-wide
    whitespace convention (empty tokens dropped).  Ratios are single
    double divisions of exact integers, 6dp."""
    toks = (T(spark, sf, "documents")
            .select("source", F.explode(F.split("text", " "))
                    .alias("token"))
            .filter(F.col("token") != ""))
    tc = toks.groupBy("source", "token").agg(
        F.count("*").cast(BIG).alias("c"))
    m = tc.groupBy("source").agg(
        F.sum("c").cast(BIG).alias("n"),
        F.count("*").cast(BIG).alias("v"),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0)).cast(BIG)
        .alias("n1"),
        F.sum(F.when(F.col("c") == 2, 1).otherwise(0)).cast(BIG)
        .alias("n2"))
    return m.select(
        "source", F.col("n").alias("n_tokens"), F.col("v").alias("vocab"),
        F.col("n1").alias("hapaxes"), F.col("n2").alias("dis_legomena"),
        F.round(F.col("n1").cast("double") / F.col("n"), 6)
        .alias("unseen_mass"),
        F.round(F.when(F.col("n1") > 0,
                       2.0 * F.col("n2") / F.col("n1"))
                .otherwise(F.lit(0.0)), 6).alias("r1_star"))


@query(
    "text_burstiness",
    oracle="""
    WITH toks AS (SELECT source, doc_id,
                         unnest(string_split(text, ' ')) AS token
                  FROM documents),
    td AS (SELECT source, token, doc_id, CAST(count(*) AS BIGINT) AS c
           FROM toks WHERE token <> '' GROUP BY source, token, doc_id),
    tt AS (SELECT source, token,
                  CAST(sum(c) AS BIGINT) AS cf,
                  CAST(count(*) AS BIGINT) AS df
           FROM td GROUP BY source, token),
    -- per-token burstiness cf/df scaled to an exact integer via FLOOR
    -- division (round() would hit .5 exactly whenever df | 2e6*cf but
    -- not df | 1e6*cf — engines disagree on double halves)
    sc AS (SELECT source, cf, df,
                  CAST(cf * 1000000 AS BIGINT) // df AS bx
           FROM tt),
    m AS (SELECT source,
                 CAST(count(*) AS BIGINT) AS v,
                 CAST(sum(CAST(bx AS DECIMAL(38,0))) AS DECIMAL(38,0))
                     AS sb,
                 CAST(sum(CASE WHEN cf > df THEN 1 ELSE 0 END)
                      AS BIGINT) AS nb
          FROM sc GROUP BY source)
    SELECT source, v AS vocab,
           round(CAST(sb AS DOUBLE) / (v * 1000000.0), 6)
               AS mean_burstiness,
           round(CAST(nb AS DOUBLE) / v, 6) AS bursty_share
    FROM m ORDER BY source
    """)
def text_burstiness(spark, sf):
    """Church-Gale burstiness per source: for each type, cf/df — mean
    occurrences per CONTAINING document — averaged over the vocabulary,
    plus the share of types that repeat within documents at all
    (cf > df).  Content words are bursty (a doc that mentions a term
    mentions it again); function words are not — so a source whose
    burstiness is inflated relative to peers is template/boilerplate
    heavy even when doc-level dedup is clean, the within-doc
    complement of [[dedup_span_profile]]'s cross-doc span signal.

    Exactness: cf/df is integer-scaled by 1e6 with exact FLOOR
    division on both engines (Spark pmod-free positive DIV = DuckDB
    // for positive ints; round() would land ON .5 whenever df
    divides 2e6*cf but not 1e6*cf, where engines disagree), summed in
    DECIMAL(38,0), one final double division.  Two hash aggs on
    (source, token[, doc]) grain — shuffles key on token hashes,
    uniform at corpus scale."""
    toks = (T(spark, sf, "documents")
            .select("source", "doc_id",
                    F.explode(F.split("text", " ")).alias("token"))
            .filter(F.col("token") != ""))
    td = toks.groupBy("source", "token", "doc_id").agg(
        F.count("*").cast(BIG).alias("c"))
    tt = td.groupBy("source", "token").agg(
        F.sum("c").cast(BIG).alias("cf"),
        F.count("*").cast(BIG).alias("df"))
    sc = tt.select(
        "source", "cf", "df",
        F.expr("CAST(cf * 1000000 AS BIGINT) DIV df").alias("bx"))
    m = sc.groupBy("source").agg(
        F.count("*").cast(BIG).alias("v"),
        F.sum(F.col("bx").cast(DEC)).cast(DEC).alias("sb"),
        F.sum(F.when(F.col("cf") > F.col("df"), 1).otherwise(0))
        .cast(BIG).alias("nb"))
    return m.select(
        "source", F.col("v").alias("vocab"),
        F.round(F.col("sb").cast("double") / (F.col("v") * 1000000.0), 6)
        .alias("mean_burstiness"),
        F.round(F.col("nb").cast("double") / F.col("v"), 6)
        .alias("bursty_share"))
