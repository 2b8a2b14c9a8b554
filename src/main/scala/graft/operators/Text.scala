package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Q, Tables}

/** Text-analysis / LLM-pipeline operators over `documents` (SURVEY.md
  * §2.3): tokenization, per-language stats, quality scoring, exact dedup,
  * n-gram-Jaccard near-dup detection, TF-IDF, language-ID heuristic.
  *
  * All built from codegen'd built-ins (split/explode/HOFs) — no UDFs.
  * Near-dup thresholds compare in integer arithmetic (2*i >= na+nb-i)
  * so the cut is bit-identical across engines.
  *
  * Tier C north-star extension (repo BASELINE.json; SURVEY §2.3) — no counterpart in the reference source; grounded in the driver documents fixture.
  */
object Text {

  private val stopwords = Seq("the", "a", "of", "and", "to", "in")

  /** tokens array column for `documents.text` (single-space separated). */
  private def tokens: Column = split(col("text"), " ")

  /** Per-doc DISTINCT 3-gram shingle SET as an array column `shset`
    * (empty array when < 3 tokens). Fully row-local: trigrams come
    * straight off the token array (transform over indices) and the
    * per-doc set dedup is `array_distinct` — a hash set over one row's
    * shingles, so SET semantics cost zero shuffles. (The pre-r19 form
    * exploded first and ran `dropDuplicates(doc_id, s)`, paying a full
    * shuffle of the corpus shingle stream for a dedup whose scope never
    * leaves the row — at 100 TB that exchange was the largest single
    * shuffle in every shingle consumer.)
    *
    * Precondition: callers pass unique-doc_id frames (every registered
    * consumer reads `documents`, whose doc_id is the table key). A
    * repeated doc_id row would yield one shset row per input row — the
    * removed corpus-wide dropDuplicates used to collapse those too.
    *
    * Parallelism guard (r19 regression, driver-measured 4–6× on ten
    * consumers): the removed dropDuplicates exchange was also the only
    * repartitioning after the small `documents` scan, so the whole
    * shingle → signature/aggregation pipeline inherited the SCAN's
    * partition count — one task on the single-file fixture. Shuffling
    * the doc rows once (hash on doc_id, shuffle-partition count) is
    * strictly cheaper than the old shingle-stream shuffle (docs bytes,
    * not ~3× exploded trigram bytes) and lets downstream
    * groupBy(doc_id) reuse the partitioning. Skipped when the input is
    * already at least that wide — at 100 TB the scan is thousands of
    * partitions and this is a no-op. */
  def shingleSets(docs: DataFrame, keep: Seq[String] = Seq("doc_id")): DataFrame =
    // `keep` (optimization r20): callers keyed on something other than
    // doc_id (t106 aggregates per SOURCE) carry that column through the
    // row-local build instead of joining it back onto the exploded
    // shingle stream afterwards — at 100 TB that join was a per-shingle
    // hash probe over the stream for a value the doc row already held.
    Scale.spreadByKey(docs, "doc_id")
      .select(keep.map(col) :+ tokens.as("t"): _*)
      .select(keep.map(col) :+ array_distinct(when(size(col("t")) >= 3,
        transform(sequence(lit(0), size(col("t")) - 3),
          i => concat_ws(" ",
            col("t")(i), col("t")(i + 1), col("t")(i + 2))))
        .otherwise(array().cast("array<string>"))).as("shset"): _*)

  /** Distinct 3-gram word shingles per doc (no rows when < 3 tokens).
    *
    * Relational form (array transform rather than per-shingle
    * element_at over the split: Catalyst's CollapseProject would inline
    * `split(text)` into every element_at reference, re-splitting the
    * document O(shingles) times). The split runs once per doc, the
    * trigram build and the per-doc set dedup are row-local
    * ([[shingleSets]]) — a narrow map end to end, no shuffle, no sort.
    *
    * explode_OUTER + isnotnull(s), not plain explode (r19 regression,
    * second mechanism): on a non-outer Generate, Catalyst's
    * InferFiltersFromGenerate synthesizes `size(gen) > 0 AND
    * isnotnull(gen)` with the FULL generator expression duplicated, and
    * predicate pushdown then re-inlines `split(text)` into every
    * per-element lambda reference of those copies — O(tokens²) work per
    * document, evaluated below the repartition (serial on the fixture
    * scan). Outer generates are exempt from that rule; shset is never
    * null and its elements are concat_ws results (never null), so the
    * only extra rows are the per-empty-doc nulls the filter drops —
    * row-identical to plain explode. Measured on the sf0.1 fixture:
    * 7.0 s → 0.33 s for the bare shingle stream. */
  def shingled(docs: DataFrame): DataFrame =
    shingleSets(docs)
      .select(col("doc_id"), explode_outer(col("shset")).as("s"))
      .filter(col("s").isNotNull)

  /** Token explode + count (dask `.str.split` + explode + value_counts):
    * top-25 tokens corpus-wide. BASELINE.md anchor shape. */
  val qTokenCounts: Q = Q(
    "t49_token_counts",
    """SELECT tok, count(*) AS n
      |FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
      |GROUP BY tok ORDER BY n DESC, tok LIMIT 25""".stripMargin
  ) { (s, d) =>
    // outer explode + not-null (optimization r20): see shingled — kills
    // the inferred-filter re-split; split() elements are never null, so
    // rows are identical. NO spreadByKey here: the only downstream work
    // is a tok-keyed partial aggregate, and the bench measured the added
    // doc_id exchange as a pure loss (0.29 s -> 0.66 s).
    Tables.documents(s, d)
      .select(explode_outer(tokens).as("tok"))
      .filter(col("tok").isNotNull)
      .groupBy(col("tok")).agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), col("tok"))
      .limit(25)
  }

  /** Per-language document statistics. */
  val qLangStats: Q = Q(
    "t50_lang_stats",
    """SELECT lang, count(*) AS n_docs,
      |  round(avg(n_chars), 4) AS avg_chars,
      |  round(avg(len(string_split(text, ' '))), 4) AS avg_tokens,
      |  count(DISTINCT source) AS n_sources
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin
  ) { (s, d) =>
    Tables.documents(s, d)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        round(avg(col("n_chars")), 4).as("avg_chars"),
        round(avg(size(tokens)), 4).as("avg_tokens"),
        countDistinct(col("source")).as("n_sources"))
      .orderBy(col("lang"))
  }

  /** Exact dedup accounting (dask `drop_duplicates` on text): per
    * language, docs vs distinct texts (sf0.1 has constructed exact dups). */
  val qExactDedup: Q = Q(
    "t51_exact_dedup_stats",
    """SELECT lang, count(*) AS n_docs,
      |       count(DISTINCT text) AS n_distinct,
      |       count(*) - count(DISTINCT text) AS n_dup_docs
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin
  ) { (s, d) =>
    Tables.documents(s, d).groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("text")).as("n_distinct"),
        (count(lit(1)) - countDistinct(col("text"))).as("n_dup_docs"))
      .orderBy(col("lang"))
  }

  /** Keep-first exact dedup: one row per distinct text (min doc_id wins),
    * then re-aggregate survivors by source — the deterministic
    * `drop_duplicates(keep='first')`. */
  val qDedupKeepFirst: Q = Q(
    "t52_dedup_keep_first",
    """SELECT source, count(*) AS n_kept FROM documents
      |WHERE doc_id IN (SELECT min(doc_id) FROM documents GROUP BY text)
      |GROUP BY source ORDER BY source""".stripMargin
  ) { (s, d) =>
    val docs = Tables.documents(s, d)
    val kept = docs.groupBy(col("text")).agg(min(col("doc_id")).as("doc_id"))
      .select("doc_id")
    docs.join(kept, Seq("doc_id"), "left_semi")
      .groupBy(col("source")).agg(count(lit(1)).as("n_kept"))
      .orderBy(col("source"))
  }

  /** Quality scoring (length / token stats / stopword ratio / digit
    * density — the features of a training-data quality filter). */
  val qQuality: Q = Q(
    "t53_quality_score",
    s"""SELECT doc_id, n_tokens,
       |  round(stop_ratio, 6) AS stop_ratio,
       |  round(avg_tok_len, 6) AS avg_tok_len,
       |  n_digit_runs,
       |  round(least(1.0, n_tokens / 100.0) * (1 - stop_ratio), 6) AS quality
       |FROM (
       |  SELECT doc_id,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       |    len(list_filter(string_split(text, ' '),
       |        x -> list_contains(['the','a','of','and','to','in'], x)))
       |      * 1.0 / len(string_split(text, ' ')) AS stop_ratio,
       |    (length(text) - len(string_split(text, ' ')) + 1)
       |      * 1.0 / len(string_split(text, ' ')) AS avg_tok_len,
       |    CAST(len(regexp_extract_all(text, '[0-9]+')) AS BIGINT) AS n_digit_runs
       |  FROM documents) t
       |WHERE doc_id < 100 ORDER BY doc_id""".stripMargin
  ) { (s, d) =>
    val stopArr = array(stopwords.map(lit): _*)
    Tables.documents(s, d)
      .withColumn("t", tokens)
      .withColumn("n_tokens", size(col("t")).cast("long"))
      .withColumn("stop_ratio",
        size(filter(col("t"), x => array_contains(stopArr, x))) * lit(1.0)
          / col("n_tokens"))
      .withColumn("avg_tok_len",
        (length(col("text")) - col("n_tokens") + 1) * lit(1.0) / col("n_tokens"))
      .withColumn("n_digit_runs", regexp_count(col("text"), lit("[0-9]+")).cast("long"))
      .filter(col("doc_id") < 100)
      .select(col("doc_id"), col("n_tokens"),
        round(col("stop_ratio"), 6).as("stop_ratio"),
        round(col("avg_tok_len"), 6).as("avg_tok_len"),
        col("n_digit_runs"),
        round(least(lit(1.0), col("n_tokens") / 100.0) * (lit(1) - col("stop_ratio")), 6)
          .as("quality"))
      .orderBy(col("doc_id"))
  }

  /** Near-dup pairs by exact 3-gram-shingle Jaccard >= 0.5 (the exact
    * oracle that graft.operators.Dedup's MinHash-LSH approximates; dask
    * has no such op — SURVEY §2.3 north-star). Shingle sets intersect via
    * self-equi-join on the shingle (shuffle on shingle — no O(n²) doc
    * pairs materialized; only colliding pairs reach the aggregation). */
  val qNgramJaccard: Q = Q(
    "t54_ngram_jaccard_pairs",
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t
      |              FROM documents WHERE doc_id < 1000),
      |sh AS (SELECT doc_id,
      |         list_distinct(CASE WHEN len(t) >= 3
      |           THEN [t[i] || ' ' || t[i+1] || ' ' || t[i+2] FOR i IN range(1, len(t) - 1)]
      |           ELSE [] END) AS shset
      |       FROM toks),
      |shx AS (SELECT doc_id, unnest(shset) AS s FROM sh),
      |sizes AS (SELECT doc_id, count(*) AS n FROM shx GROUP BY doc_id),
      |inter AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS i
      |          FROM shx a JOIN shx b ON a.s = b.s AND a.doc_id < b.doc_id
      |          GROUP BY da, db)
      |SELECT da, db, round(i * 1.0 / (sa.n + sb.n - i), 6) AS jaccard
      |FROM inter JOIN sizes sa ON da = sa.doc_id JOIN sizes sb ON db = sb.doc_id
      |WHERE 2 * i >= sa.n + sb.n - i
      |ORDER BY da, db""".stripMargin
  ) { (s, d) =>
    // Bounded exact form (doc_id < 1000 covers all of sf0.01, so the
    // oracle result is unchanged there); the unbounded-scale path is the
    // MinHash-LSH variant (t58) — on this small-vocab corpus the shingle
    // join degenerates toward all-pairs, which is exactly what LSH avoids.
    jaccardPairs(Tables.documents(s, d).filter(col("doc_id") < 1000), 1, 2)
      .orderBy(col("da"), col("db"))
  }

  /** Doc pairs `(da, db, jaccard)`, `da < db`, with 3-gram-shingle
    * Jaccard >= num/den (compared in integer arithmetic:
    * i*den >= (na+nb-i)*num). Shared by t54 (1/2), the connected-component
    * queries t63/t71/t83 (1/2), the LSH tuning curve t119 (0/1: every
    * intersecting pair) and the LSH precision test (7/20).
    *
    * No output order: t54 sorts its own result, and the component
    * queries only read the pairs as an edge list.
    *
    * A doc's shingle count is `n = size(shset)`, carried on each of its
    * exploded rows and grouped through with the pair, so no per-doc
    * count aggregate is joined back onto the intersections. `shset` is
    * already distinct per doc, so this is the doc's number of distinct
    * shingles PROVIDED `doc_id` is unique in `docs` (every fixture and
    * GenScale corpus keys `documents` by doc_id); a repeated doc_id
    * breaks that equality. */
  def jaccardPairs(docs: DataFrame, num: Int, den: Int): DataFrame = {
    // shx feeds both self-join sides — persist, or the
    // tokenize→shingle→distinct explode runs twice. Outer explode plus
    // not-null, as in `shingled`.
    val shx = shingleSets(docs)
      .select(col("doc_id"), size(col("shset")).as("n"),
        explode_outer(col("shset")).as("s"))
      .filter(col("s").isNotNull)
      .transform(Scale.pin(_))
    // distinct per-side names: a self-join on the SAME attribute makes
    // Spark warn + fall back to dataset-id disambiguation — works, but
    // explicit is safer than relying on it
    val a = shx.select(col("doc_id").as("da"), col("n").as("na"), col("s").as("sa"))
    val b = shx.select(col("doc_id").as("db"), col("n").as("nb"), col("s").as("sb"))
    a.join(b, col("sa") === col("sb") && col("da") < col("db"))
      .groupBy(col("da"), col("db"), col("na"), col("nb"))
      .agg(count(lit(1)).as("i"))
      .filter(col("i") * den >= (col("na") + col("nb") - col("i")) * num)
      .select(col("da"), col("db"),
        round(col("i") * lit(1.0) / (col("na") + col("nb") - col("i")), 6)
          .as("jaccard"))
  }

  /** TF-IDF: top-scoring term per document (tf * ln(N/df)), deterministic
    * tie-break by term. */
  val qTfIdf: Q = Q(
    "t55_tfidf_top_term",
    """WITH tf AS (SELECT doc_id, tok, count(*) AS tf
      |            FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
      |                  FROM documents)
      |            GROUP BY doc_id, tok),
      |df AS (SELECT tok, count(DISTINCT doc_id) AS df FROM tf GROUP BY tok),
      |n AS (SELECT count(*) AS n_docs FROM documents),
      |scored AS (
      |  SELECT doc_id, tok, tf.tf * ln(n.n_docs * 1.0 / df.df) AS score
      |  FROM tf JOIN df USING (tok) CROSS JOIN n)
      |SELECT doc_id, tok AS top_term, round(score, 6) AS score
      |FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
      |        ORDER BY score DESC, tok) AS rn FROM scored) t
      |WHERE rn = 1 AND doc_id < 200
      |ORDER BY doc_id""".stripMargin
  ) { (s, d) =>
    val docs = Tables.documents(s, d)
    val tf = docs
      .select(col("doc_id"), explode_outer(tokens).as("tok"))
      .filter(col("tok").isNotNull) // outer+not-null: see shingled
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("tok")).agg(countDistinct(col("doc_id")).as("df"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs")) // stays in the plan
    val scored = tf.join(df, Seq("tok"))
      .crossJoin(broadcast(nDocs))
      .withColumn("score", col("tf") * log(col("n_docs") * lit(1.0) / col("df")))
    val w = Window.partitionBy(col("doc_id")).orderBy(desc("score"), col("tok"))
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1 && col("doc_id") < 200)
      .select(col("doc_id"), col("tok").as("top_term"),
        round(col("score"), 6).as("score"))
      .orderBy(col("doc_id"))
  }

  /** Language-ID heuristic (n-gram/stopword marker scoring — SURVEY §2.3
    * "language-ID"): confusion counts of predicted vs labeled lang. The
    * corpus vocabulary is synthetic so the prediction is a demo of the
    * pipeline shape, not linguistics. */
  val qLangId: Q = Q(
    "t56_langid_confusion",
    """SELECT lang,
      |  CASE WHEN len(list_filter(string_split(text, ' '),
      |         x -> list_contains(['the','a','of','and','to','in'], x)))
      |       * 1.0 / len(string_split(text, ' ')) > 0.08
      |       THEN 'en_like' ELSE 'other' END AS predicted,
      |  count(*) AS n
      |FROM documents GROUP BY lang, predicted ORDER BY lang, predicted""".stripMargin
  ) { (s, d) =>
    val stopArr = array(stopwords.map(lit): _*)
    Tables.documents(s, d)
      .withColumn("t", tokens)
      .withColumn("predicted",
        when(size(filter(col("t"), x => array_contains(stopArr, x))) * lit(1.0)
          / size(col("t")) > 0.08, "en_like").otherwise("other"))
      .groupBy(col("lang"), col("predicted"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("lang"), col("predicted"))
  }

  /** Deterministic document fingerprint (rolling polynomial hash over
    * token lengths, mod 1e9+7 — engine-portable integer arithmetic). */
  val qFingerprint: Q = Q(
    "t57_doc_fingerprint",
    """SELECT doc_id,
      |  list_reduce(list_prepend(CAST(0 AS BIGINT),
      |    list_transform(string_split(text, ' '), x -> CAST(length(x) AS BIGINT))),
      |    (a, x) -> (a * 31 + x) % 1000000007) AS fingerprint
      |FROM documents WHERE doc_id < 200 ORDER BY doc_id""".stripMargin
  ) { (s, d) =>
    Tables.documents(s, d).filter(col("doc_id") < 200)
      .select(col("doc_id"),
        aggregate(transform(tokens, x => length(x).cast("long")), lit(0L),
          (a, x) => (a * 31 + x) % 1000000007L).as("fingerprint"))
      .orderBy(col("doc_id"))
  }

  /** BPE-ish regex tokenization (SURVEY §2.3 "token counting": whitespace
    * + regex): counts under a subword-flavored pattern — runs of letters,
    * digit runs, or single non-space symbols — vs whitespace tokens. */
  val qRegexTokens: Q = Q(
    "t61_regex_token_counts",
    """SELECT doc_id,
      |  CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
      |  CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT)
      |    AS bpeish_tokens,
      |  CAST(len(regexp_extract_all(text, '[a-z]{1,4}')) AS BIGINT) AS subword4
      |FROM documents WHERE doc_id < 200 ORDER BY doc_id""".stripMargin
  ) { (s, d) =>
    Tables.documents(s, d).filter(col("doc_id") < 200)
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("ws_tokens"),
        regexp_count(col("text"), lit("[a-z]+|[0-9]+|[^a-z0-9 ]")).cast("long")
          .as("bpeish_tokens"),
        regexp_count(col("text"), lit("[a-z]{1,4}")).cast("long").as("subword4"))
      .orderBy(col("doc_id"))
  }

  /** End-to-end corpus-cleaning pipeline (the composite shape a
    * training-data pipeline runs per ingest batch): quality-score every
    * doc → keep quality ≥ 0.5 → exact dedup keep-first among survivors →
    * per-language manifest (kept docs, total tokens, avg quality). One
    * declarative plan: Catalyst fuses the scoring projection into the
    * scan-side, the dedup is one shuffle on text, the manifest one on
    * lang. The quality cut compares UNROUNDED doubles — safe across
    * engines because both sides compute the identical IEEE expression
    * tree per row (no aggregation before the filter). */
  val qPipelineClean: Q = Q(
    "t62_pipeline_clean",
    """WITH scored AS (
      |  SELECT doc_id, lang, text,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
      |    len(list_filter(string_split(text, ' '),
      |        x -> list_contains(['the','a','of','and','to','in'], x)))
      |      * 1.0 / len(string_split(text, ' ')) AS stop_ratio
      |  FROM documents),
      |q AS (SELECT *, least(1.0, n_tokens / 100.0) * (1 - stop_ratio) AS quality
      |      FROM scored),
      |good AS (SELECT * FROM q WHERE quality >= 0.5),
      |kept AS (SELECT * FROM good
      |         WHERE doc_id IN (SELECT min(doc_id) FROM good GROUP BY text))
      |SELECT lang, count(*) AS n_kept,
      |       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
      |       round(avg(quality), 6) AS avg_quality
      |FROM kept GROUP BY lang ORDER BY lang""".stripMargin
  ) { (s, d) =>
    val stopArr = array(stopwords.map(lit): _*)
    val scored = Tables.documents(s, d)
      .withColumn("t", tokens)
      .withColumn("n_tokens", size(col("t")).cast("long"))
      .withColumn("stop_ratio",
        size(filter(col("t"), x => array_contains(stopArr, x))) * lit(1.0)
          / col("n_tokens"))
      .withColumn("quality",
        least(lit(1.0), col("n_tokens") / 100.0) * (lit(1) - col("stop_ratio")))
    val good = scored.filter(col("quality") >= 0.5)
    val kept = good.join(
      good.groupBy(col("text")).agg(min(col("doc_id")).as("doc_id")).select("doc_id"),
      Seq("doc_id"), "left_semi")
    kept.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_kept"), sum(col("n_tokens")).as("total_tokens"),
        round(avg(col("quality")), 6).as("avg_quality"))
      .orderBy(col("lang"))
  }

  /** Corpus heavy hitters (frequent-items mining): exact global top-k
    * terms by document frequency. One explode + one groupBy — partial
    * aggregation bounds the shuffle to |vocab| per partition, then
    * TakeOrderedAndProject keeps the top-k without a global sort. The
    * approximate companion (Spark's `stat.freqItems`, lossy-counting
    * sketch) is ScalaTest-bounded against this exact form. */
  val qHeavyHitters: Q = Q(
    "t64_heavy_hitters",
    """SELECT tok, CAST(count(*) AS BIGINT) AS n_docs
      |FROM (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok
      |      FROM documents)
      |GROUP BY tok ORDER BY n_docs DESC, tok LIMIT 10""".stripMargin
  ) { (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"), explode_outer(tokens).as("tok"))
      .filter(col("tok").isNotNull) // outer+not-null: see shingled
      .distinct()
      .groupBy(col("tok")).agg(count(lit(1)).as("n_docs"))
      .orderBy(desc("n_docs"), col("tok")).limit(10)
  }

  /** Benchmark decontamination (the eval-overlap scrub a pretraining
    * pipeline runs): flag training docs sharing any 3-gram shingle with a
    * benchmark/eval set, with the overlap count as evidence. The
    * benchmark side is small by construction → its shingle set broadcasts
    * and the training side needs ONE scan + a broadcast hash join — no
    * shuffle of the training corpus at all. Here docs < 50 stand in for
    * the benchmark; the rest is the corpus. */
  val qDecontaminate: Q = Q(
    "t65_decontamination",
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |sh AS (SELECT doc_id,
      |         list_distinct(CASE WHEN len(t) >= 3
      |           THEN [t[i] || ' ' || t[i+1] || ' ' || t[i+2] FOR i IN range(1, len(t) - 1)]
      |           ELSE [] END) AS shset
      |       FROM toks),
      |shx AS (SELECT doc_id, unnest(shset) AS s FROM sh),
      |bench AS (SELECT DISTINCT s FROM shx WHERE doc_id < 50),
      |train AS (SELECT doc_id, s FROM shx WHERE doc_id >= 50)
      |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shared_3grams
      |FROM train JOIN bench USING (s)
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin
  ) { (s, d) =>
    // shx splits into bench + train branches — persist, or the shingle
    // explode runs once per branch.
    val shx = shingled(Tables.documents(s, d))
      .transform(Scale.pin(_))
    val bench = shx.filter(col("doc_id") < 50).select(col("s")).distinct()
    val train = shx.filter(col("doc_id") >= 50)
    train.join(broadcast(bench), Seq("s"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_shared_3grams"))
      .orderBy(col("doc_id"))
  }

  /** Repetition filter (the Gopher-style quality rule t53's
    * length/punct/stopword ratios don't cover): per-doc fraction of the
    * most repeated word and most repeated 2-gram; docs above threshold
    * are flagged as low-quality boilerplate. Explode-based relational
    * per-token work, two groupBys per signal — both map-side combined on
    * (doc_id, gram). */
  val qRepetition: Q = Q(
    "t66_repetition_filter",
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t
      |              FROM documents WHERE doc_id < 300),
      |words AS (SELECT doc_id, unnest(t) AS g FROM toks),
      |wc AS (SELECT doc_id, g, count(*) AS c FROM words GROUP BY doc_id, g),
      |wstat AS (SELECT doc_id, max(c) AS mx, sum(c) AS n FROM wc GROUP BY doc_id),
      |grams AS (SELECT doc_id,
      |            unnest(CASE WHEN len(t) >= 2
      |              THEN [t[i] || ' ' || t[i+1] FOR i IN range(1, len(t))]
      |              ELSE [] END) AS g
      |          FROM toks),
      |gc AS (SELECT doc_id, g, count(*) AS c FROM grams GROUP BY doc_id, g),
      |gstat AS (SELECT doc_id, max(c) AS mx, sum(c) AS n FROM gc GROUP BY doc_id)
      |SELECT w.doc_id,
      |  round(w.mx * 1.0 / w.n, 6) AS top_word_frac,
      |  round(g.mx * 1.0 / g.n, 6) AS top_2gram_frac,
      |  (w.mx * 1.0 / w.n > 0.2 OR g.mx * 1.0 / g.n > 0.18) AS flagged
      |FROM wstat w JOIN gstat g ON w.doc_id = g.doc_id
      |ORDER BY w.doc_id""".stripMargin
  ) { (s, d) =>
    val docs = Tables.documents(s, d).filter(col("doc_id") < 300)
      .withColumn("t", tokens)
    def topFrac(grams: DataFrame, mx: String, n: String): DataFrame =
      grams.groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id")).agg(max(col("c")).as(mx), sum(col("c")).as(n))
    val wstat = topFrac(docs.select(col("doc_id"), explode(col("t")).as("g")),
      "wmx", "wn")
    val gstat = topFrac(docs.select(col("doc_id"),
      explode(when(size(col("t")) >= 2,
        transform(sequence(lit(0), size(col("t")) - 2),
          i => concat_ws(" ", col("t")(i), col("t")(i + 1))))
        .otherwise(array().cast("array<string>"))).as("g")), "gmx", "gn")
    val wf = col("wmx") * lit(1.0) / col("wn")
    val gf = col("gmx") * lit(1.0) / col("gn")
    wstat.join(gstat, Seq("doc_id"))
      .select(col("doc_id"),
        round(wf, 6).as("top_word_frac"),
        round(gf, 6).as("top_2gram_frac"),
        (wf > 0.2 || gf > 0.18).as("flagged"))
      .orderBy(col("doc_id"))
  }

  /** Count-min sketch over corpus token frequencies, fully ORACLE-CHECKED:
    * the hash family is an engine-portable rolling polynomial over the
    * token's character codes (no xxhash), so DuckDB reproduces the exact
    * counter array and the exact estimates. d=4 rows × w=512 buckets;
    * counters are one groupBy (map-side combined — partial aggregation IS
    * the sketch merge, the property that makes CMS distributable); the
    * ≤2048-row counter table broadcasts back to score the exact top-10
    * heavy hitters. CMS guarantee (est ≥ true, est ≤ true + εN w.h.p.) is
    * asserted in CurationSpec. */
  val qCmsHeavyHitters: Q = {
    val P = 1000000007L
    val W = 512
    val mix = Seq((1664525L, 1013904223L), (22695477L, 1L),
      (134775813L, 1L), (214013L, 2531011L))
    val duckMix = mix.zipWithIndex.map { case ((a, b), j) =>
      s"SELECT $j AS j, CAST($a AS BIGINT) AS a, CAST($b AS BIGINT) AS b"
    }.mkString(" UNION ALL ")
    Q(
      "t72_cms_heavy_hitters",
      s"""WITH tok AS (SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
         |h AS (SELECT tok,
         |        list_reduce(list_prepend(CAST(0 AS BIGINT),
         |          list_transform(range(1, length(tok) + 1),
         |            i -> CAST(ascii(substr(tok, i, 1)) AS BIGINT))),
         |          (a, c) -> (a * 131 + c) % $P) AS th
         |      FROM tok),
         |mix(j, a, b) AS ($duckMix),
         |buckets AS (SELECT j, (a * th + b) % $P % $W AS bkt FROM h CROSS JOIN mix),
         |counters AS (SELECT j, bkt, count(*) AS c FROM buckets GROUP BY j, bkt),
         |exact AS (SELECT tok, th, count(*) AS n FROM h GROUP BY tok, th
         |          ORDER BY n DESC, tok LIMIT 10),
         |est AS (SELECT tok, n, min(c) AS cms_est
         |        FROM (SELECT e.tok, e.n, (m.a * e.th + m.b) % $P % $W AS bkt, m.j
         |              FROM exact e CROSS JOIN mix m) q
         |        JOIN counters USING (j, bkt)
         |        GROUP BY tok, n)
         |SELECT tok, CAST(n AS BIGINT) AS n, CAST(cms_est AS BIGINT) AS cms_est
         |FROM est ORDER BY n DESC, tok""".stripMargin
    ) { (s, d) =>
      val toks = Tables.documents(s, d)
        .select(explode_outer(tokens).as("tok"))
        .filter(col("tok").isNotNull) // outer+not-null: see shingled
      // portable rolling-polynomial token hash — the codegen'd
      // StringPolyHash expression (byte loop ≡ the ascii/substr HOF and
      // the DuckDB list_reduce oracle on this ASCII corpus; cannot
      // overflow: h < P ≈ 2^30, h*131 + 255 < 2^38)
      val hashed = toks.withColumn("th",
        call_function("graft_polyhash", col("tok"), lit(131L), lit(P)))
      val mixDf = s.createDataFrame(
        mix.zipWithIndex.map { case ((a, b), j) => (j, a, b) })
        .toDF("j", "a", "b")
      val buckets = hashed.crossJoin(broadcast(mixDf))
        .select(col("j"), ((col("a") * col("th") + col("b")) % P % W).as("bkt"))
      val counters = buckets.groupBy(col("j"), col("bkt"))
        .agg(count(lit(1)).as("c"))
      val exact = hashed.groupBy(col("tok"), col("th"))
        .agg(count(lit(1)).as("n"))
        .orderBy(desc("n"), col("tok")).limit(10)
      exact.crossJoin(broadcast(mixDf))
        .select(col("tok"), col("n"), col("j"),
          ((col("a") * col("th") + col("b")) % P % W).as("bkt"))
        .join(broadcast(counters), Seq("j", "bkt"))
        .groupBy(col("tok"), col("n")).agg(min(col("c")).as("cms_est"))
        .select(col("tok"), col("n"), col("cms_est"))
        .orderBy(desc("n"), col("tok"))
    }
  }

  /** Corpus n-gram frequency table (the LM-prep sibling of t49's unigram
    * counts): top-20 bigrams corpus-wide. Bigrams are built ROW-LOCALLY
    * off the token array (the r14 [[shingled]] re-plan — the earlier
    * posexplode + lead window shuffled the whole token stream first),
    * then one map-side-combined groupBy — |bigram vocab| per partition
    * reaches the shuffle, never the token stream. */
  val qBigramCounts: Q = Q(
    "t74_bigram_counts",
    """SELECT g, CAST(count(*) AS BIGINT) AS n FROM (
      |  SELECT [t[i] || ' ' || t[i+1] FOR i IN range(1, len(t))] AS gs
      |  FROM (SELECT string_split(text, ' ') AS t FROM documents) x
      |), LATERAL unnest(gs) AS u(g)
      |GROUP BY g ORDER BY n DESC, g LIMIT 20""".stripMargin
  ) { (s, d) =>
    Tables.documents(s, d)
      .select(tokens.as("t"))
      .select(explode(when(size(col("t")) >= 2,
        transform(sequence(lit(0), size(col("t")) - 2),
          i => concat_ws(" ", col("t")(i), col("t")(i + 1))))
        .otherwise(array().cast("array<string>"))).as("g"))
      .groupBy(col("g")).agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), col("g")).limit(20)
  }

  /** Gopher-style statistical quality signals: per-doc Shannon entropy
    * of the token distribution and type-token ratio — low entropy /
    * low TTR flags template spam and keyword stuffing that t53's
    * length-based score misses. Two groupBys on (doc, token) then
    * (doc): both shuffles key on doc_id, so at 100 TB this is two
    * map-side-combined passes, no wide rows. */
  val qTokenEntropy: Q = Q(
    "t77_token_entropy",
    """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
      |             FROM documents WHERE doc_id < 200),
      |tc AS (SELECT doc_id, tok, count(*) AS c FROM tok GROUP BY doc_id, tok),
      |n AS (SELECT doc_id, sum(c) AS n, count(*) AS n_types
      |      FROM tc GROUP BY doc_id)
      |SELECT tc.doc_id,
      |  round(-sum((c * 1.0 / n.n) * ln(c * 1.0 / n.n)), 6) AS entropy,
      |  round(max(n.n_types) * 1.0 / max(n.n), 6) AS type_token_ratio,
      |  CAST(max(n.n) AS BIGINT) AS n_tokens
      |FROM tc JOIN n USING (doc_id)
      |GROUP BY tc.doc_id ORDER BY tc.doc_id""".stripMargin
  ) { (s, d) =>
    val tok = Tables.documents(s, d).filter(col("doc_id") < 200)
      .select(col("doc_id"), explode_outer(tokens).as("tok"))
      .filter(col("tok").isNotNull) // outer+not-null: see shingled
    val tc = tok.groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("c"))
    val n = tc.groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n"), count(lit(1)).as("n_types"))
    val p = col("c") * lit(1.0) / col("n")
    tc.join(n, Seq("doc_id"))
      .groupBy(col("doc_id"))
      .agg(round(-sum(p * log(p)), 6).as("entropy"),
        round(max(col("n_types")) * lit(1.0) / max(col("n")), 6).as("type_token_ratio"),
        max(col("n")).as("n_tokens"))
      .orderBy(col("doc_id"))
  }

  /** C4-style segment-level dedup WITH document reconstruction: the
    * corpus is segmented (deterministic 8-token "lines", the fixture
    * texts having no newlines), every occurrence of a segment after its
    * first (by doc_id, then position) is dropped, and each document is
    * re-assembled from its surviving segments in order. This is the
    * transform C4/RefinedWeb apply with three-sentence spans — distinct
    * from t75, which only *scores* boilerplate, this one *rewrites* the
    * corpus. Shape at 100 TB: one explode, one segment-keyed window
    * (shuffle on seg_text — the dedup key, as any exact dedup must),
    * one groupBy back on doc_id; no pair joins, no collects. Output
    * carries an md5 prefix of the rebuilt text so the oracle checks the
    * reconstruction byte-for-byte without shipping long strings. */
  val qSegmentDedup: Q = Q(
    "t82_segment_dedup_rebuild",
    """WITH words AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |segs AS (SELECT doc_id,
      |           CAST(r.i AS BIGINT) AS seg_idx,
      |           array_to_string(ws[r.i * 8 + 1 : r.i * 8 + 8], ' ') AS seg
      |         FROM words, unnest(range(0, (len(ws) + 7) // 8)) AS r(i)),
      |marked AS (SELECT doc_id, seg_idx, seg,
      |             row_number() OVER (PARTITION BY seg
      |               ORDER BY doc_id, seg_idx) AS occ
      |           FROM segs)
      |SELECT doc_id,
      |       CAST(count(*) AS BIGINT) AS n_seg,
      |       CAST(sum(CASE WHEN occ = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
      |       substring(md5(coalesce(string_agg(CASE WHEN occ = 1 THEN seg END, ' '
      |         ORDER BY seg_idx), '')), 1, 16) AS rebuilt_md5
      |FROM marked GROUP BY doc_id ORDER BY doc_id""".stripMargin
  ) { (s, d) => segmentDedupRebuild(Tables.documents(s, d), 8) }

  /** Fixed-width token segments of every doc: (doc_id, seg_idx, seg) —
    * shared by the t82 rebuild and the t91 excision. */
  private def segmentsOf(docs: DataFrame, segTokens: Int): DataFrame = {
    val ws = split(col("text"), " ")
    docs
      .select(col("doc_id"), ws.as("ws"))
      // posexplode_OUTER + pos-not-null, not posexplode: see [[shingled]] —
      // a non-outer Generate gets an inferred size()>0 filter with the
      // whole segment transform duplicated and `split(text)` re-inlined
      // into every slice() — O(tokens²) per doc. pos is null ONLY on the
      // synthesized empty/null-array row, so the filter is row-identical
      // to the inner generate for every input.
      .select(col("doc_id"),
        posexplode_outer(transform(
          sequence(lit(0),
            floor((size(col("ws")) + segTokens - 1) / segTokens).cast("int") - 1),
          i => array_join(slice(col("ws"), i * segTokens + 1, lit(segTokens)), " ")))
          .as(Seq("seg_idx", "seg")))
      .filter(col("seg_idx").isNotNull)
      .select(col("doc_id"), col("seg_idx").cast("long").as("seg_idx"), col("seg"))
  }

  /** The t82 transform over any (doc_id, text) frame. */
  def segmentDedupRebuild(docs: DataFrame, segTokens: Int): DataFrame = {
    val segs = segmentsOf(docs, segTokens)
    val w = Window.partitionBy(col("seg")).orderBy(col("doc_id"), col("seg_idx"))
    segs.withColumn("occ", row_number().over(w))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_seg"),
        sum(when(col("occ") === 1, 1L).otherwise(0L)).as("n_kept"),
        substring(md5(array_join(transform(
          array_sort(collect_list(when(col("occ") === 1,
            struct(col("seg_idx"), col("seg"))))),
          s_ => s_.getField("seg")), " ")), 1, 16).as("rebuilt_md5"))
      .orderBy(col("doc_id"))
  }

  /** Cross-corpus exact dedup: drop from the working corpus any document
    * whose exact text already exists in a reference corpus (a previous
    * training snapshot, an eval set — the hash-level decontamination
    * companion to t65's shingle overlap). The reference side reduces to
    * DISTINCT text hashes before the anti-join, so the join's build side
    * is unique-keyed; the working corpus takes exactly one scan + one
    * hash-partitioned anti-join (or a broadcast anti-join when the
    * reference is small — Catalyst picks by size). Here `source='src0'`
    * plays the reference, the rest the working corpus. */
  val qCrossCorpusDedup: Q = Q(
    "t86_cross_corpus_dedup",
    """WITH ref AS (SELECT DISTINCT md5(text) AS h FROM documents
      |             WHERE source = 'src0'),
      |work AS (SELECT source, md5(text) AS h FROM documents
      |         WHERE source <> 'src0')
      |SELECT source,
      |  CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(CASE WHEN ref.h IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
      |  CAST(sum(CASE WHEN ref.h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_removed
      |FROM work LEFT JOIN ref ON work.h = ref.h
      |GROUP BY source ORDER BY source""".stripMargin
  ) { (s, d) =>
    val docs = Tables.documents(s, d)
    val ref = docs.filter(col("source") === "src0")
      .select(md5(col("text")).as("rh")).distinct()
    docs.filter(col("source") =!= "src0")
      .select(col("source"), md5(col("text")).as("h"))
      .join(ref, col("h") === col("rh"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("rh").isNull, 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("rh").isNotNull, 1L).otherwise(0L)).as("n_removed"))
      .orderBy(col("source"))
  }

  /** Decontamination by EXCISION (t65's flagging upgraded to the
    * transform real pipelines apply): 8-token segments matching any
    * benchmark segment are cut out and the document is re-assembled
    * from what survives — per-doc excision counts plus an md5 of the
    * rebuilt text, byte-checked by the oracle. The benchmark side
    * (doc_id < 50) reduces to a DISTINCT segment set before the join —
    * unique-keyed and broadcast-able — so the working corpus pays one
    * segment explode + one left join + one doc groupBy; same shapes as
    * t82, no pair joins. */
  val qDecontaminateExcise: Q = Q(
    "t91_decontaminate_excise",
    """WITH words AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |segs AS (SELECT doc_id,
      |           CAST(r.i AS BIGINT) AS seg_idx,
      |           array_to_string(ws[r.i * 8 + 1 : r.i * 8 + 8], ' ') AS seg
      |         FROM words, unnest(range(0, (len(ws) + 7) // 8)) AS r(i)),
      |bench AS (SELECT DISTINCT seg FROM segs WHERE doc_id < 50),
      |marked AS (SELECT s.doc_id, s.seg_idx, s.seg,
      |             bench.seg IS NOT NULL AS hit
      |           FROM segs s LEFT JOIN bench ON s.seg = bench.seg
      |           WHERE s.doc_id >= 50)
      |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_seg,
      |  CAST(sum(CASE WHEN hit THEN 1 ELSE 0 END) AS BIGINT) AS n_excised,
      |  substring(md5(coalesce(string_agg(CASE WHEN NOT hit THEN seg END, ' '
      |    ORDER BY seg_idx), '')), 1, 16) AS rebuilt_md5
      |FROM marked GROUP BY doc_id ORDER BY doc_id""".stripMargin
  ) { (s, d) =>
    val segs = segmentsOf(Tables.documents(s, d), 8)
    val bench = segs.filter(col("doc_id") < 50)
      .select(col("seg").as("bseg")).distinct()
    segs.filter(col("doc_id") >= 50)
      .join(bench, col("seg") === col("bseg"), "left")
      .withColumn("hit", col("bseg").isNotNull)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_seg"),
        sum(when(col("hit"), 1L).otherwise(0L)).as("n_excised"),
        substring(md5(array_join(transform(
          array_sort(collect_list(when(!col("hit"),
            struct(col("seg_idx"), col("seg"))))),
          s_ => s_.getField("seg")), " ")), 1, 16).as("rebuilt_md5"))
      .orderBy(col("doc_id"))
  }

  /** Full curation funnel with per-stage audit (the end-to-end corpus
    * build report a training run signs off on): quality filter → exact
    * dedup keep-first → benchmark decontamination, each stage counted
    * per language so the drop attribution is visible — the t62/t52/t65
    * stages composed into ONE declarative plan with flags instead of
    * filters. Scale shapes unchanged from the parts: quality is a map
    * stage, dedup rank is a text-keyed window, contamination evidence is
    * a broadcast-bench shingle join; the audit is one final hash
    * aggregate over flag columns. */
  val qCurationFunnel: Q = Q(
    "t98_curation_funnel",
    """WITH corpus AS (
      |  SELECT doc_id, lang, text, string_split(text, ' ') AS t
      |  FROM documents WHERE doc_id >= 50),
      |scored AS (
      |  SELECT doc_id, lang, text,
      |    CAST(len(t) AS BIGINT) AS n_tokens,
      |    least(1.0, len(t) / 100.0)
      |      * (1 - len(list_filter(t,
      |          x -> list_contains(['the','a','of','and','to','in'], x)))
      |          * 1.0 / len(t)) AS quality
      |  FROM corpus),
      |flags1 AS (
      |  SELECT *, quality >= 0.5 AS q_pass FROM scored),
      |flags2 AS (
      |  SELECT *, q_pass AND doc_id = min(CASE WHEN q_pass THEN doc_id END)
      |      OVER (PARTITION BY text) AS keep_dedup
      |  FROM flags1),
      |sh AS (SELECT doc_id, unnest(list_distinct(
      |         CASE WHEN len(t) >= 3
      |           THEN [t[i] || ' ' || t[i+1] || ' ' || t[i+2]
      |                 FOR i IN range(1, len(t) - 1)]
      |           ELSE [] END)) AS s
      |       FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)),
      |bench AS (SELECT DISTINCT s FROM sh WHERE doc_id < 50),
      |contam AS (SELECT sh.doc_id, CAST(count(*) AS BIGINT) AS n_shared
      |           FROM sh JOIN bench USING (s) WHERE sh.doc_id >= 50
      |           GROUP BY sh.doc_id),
      |flags3 AS (
      |  SELECT f.*, f.keep_dedup AND coalesce(c.n_shared, 0) < 5 AS keep_clean
      |  FROM flags2 f LEFT JOIN contam c ON f.doc_id = c.doc_id)
      |SELECT lang,
      |  CAST(count(*) AS BIGINT) AS n_raw,
      |  CAST(count(*) FILTER (WHERE q_pass) AS BIGINT) AS n_quality,
      |  CAST(count(*) FILTER (WHERE keep_dedup) AS BIGINT) AS n_dedup,
      |  CAST(count(*) FILTER (WHERE keep_clean) AS BIGINT) AS n_clean,
      |  CAST(coalesce(sum(CASE WHEN keep_clean THEN n_tokens END), 0) AS BIGINT)
      |    AS tokens_clean
      |FROM flags3 GROUP BY lang ORDER BY lang""".stripMargin
  ) { (s, d) =>
    val stopArr = array(stopwords.map(lit): _*)
    val corpus = Tables.documents(s, d).filter(col("doc_id") >= 50)
      .withColumn("t", tokens)
    val scored = corpus
      .withColumn("n_tokens", size(col("t")).cast("long"))
      .withColumn("quality",
        least(lit(1.0), size(col("t")) / 100.0)
          * (lit(1) - size(filter(col("t"), x => array_contains(stopArr, x)))
            * lit(1.0) / size(col("t"))))
      .withColumn("q_pass", col("quality") >= 0.5)
    val wText = org.apache.spark.sql.expressions.Window.partitionBy(col("text"))
    val flags2 = scored.withColumn("keep_dedup",
      col("q_pass") &&
        col("doc_id") === min(when(col("q_pass"), col("doc_id"))).over(wText))
    val shx = shingled(Tables.documents(s, d))
      .transform(Scale.pin(_)) // bench + contam branches share it
    val bench = shx.filter(col("doc_id") < 50).select(col("s")).distinct()
    val contam = shx.filter(col("doc_id") >= 50)
      .join(broadcast(bench), Seq("s"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_shared"))
    val flags3 = flags2.join(contam, Seq("doc_id"), "left")
      .withColumn("keep_clean",
        col("keep_dedup") && coalesce(col("n_shared"), lit(0L)) < 5)
    flags3.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_raw"),
        count(when(col("q_pass"), 1)).as("n_quality"),
        count(when(col("keep_dedup"), 1)).as("n_dedup"),
        count(when(col("keep_clean"), 1)).as("n_clean"),
        coalesce(sum(when(col("keep_clean"), col("n_tokens"))), lit(0L))
          .as("tokens_clean"))
      .orderBy(col("lang"))
  }

  /** DIRECTIONAL shingle containment |A∩B| / |A| ≥ 0.8 (the asymmetric
    * near-dup signal Jaccard misses: a short doc quoted inside a long
    * one scores low Jaccard but high containment — the
    * quotation/plagiarism/sub-document detector). Same shingle-keyed
    * equi-join shape as t54 (only colliding pairs reach the aggregate);
    * directional, so (da, db) keeps order and the size join is on the
    * CONTAINED side only. Integer threshold arithmetic (i·10 ≥ n·8) —
    * no float compare at the cut. Bounded form; LSH buckets feed it at
    * open scale exactly as for t54. */
  val qContainment: Q = Q(
    "t99_shingle_containment",
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t
      |              FROM documents WHERE doc_id < 300),
      |sh AS (SELECT doc_id,
      |         list_distinct(CASE WHEN len(t) >= 3
      |           THEN [t[i] || ' ' || t[i+1] || ' ' || t[i+2] FOR i IN range(1, len(t) - 1)]
      |           ELSE [] END) AS shset
      |       FROM toks),
      |shx AS (SELECT doc_id, unnest(shset) AS s FROM sh),
      |sizes AS (SELECT doc_id, count(*) AS n FROM shx GROUP BY doc_id),
      |inter AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS i
      |          FROM shx a JOIN shx b ON a.s = b.s AND a.doc_id <> b.doc_id
      |          GROUP BY da, db)
      |SELECT da, db, round(i * 1.0 / sa.n, 6) AS containment
      |FROM inter JOIN sizes sa ON da = sa.doc_id
      |WHERE i * 10 >= sa.n * 8
      |ORDER BY da, db""".stripMargin
  ) { (s, d) =>
    val shx = shingled(Tables.documents(s, d).filter(col("doc_id") < 300))
      .transform(Scale.pin(_)) // sizes + both self-join sides share it
    val sizes = shx.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val a = shx.select(col("doc_id").as("da"), col("s").as("sa"))
    val b = shx.select(col("doc_id").as("db"), col("s").as("sb"))
    a.join(b, col("sa") === col("sb") && col("da") =!= col("db"))
      .groupBy(col("da"), col("db")).agg(count(lit(1)).as("i"))
      .join(sizes.select(col("doc_id").as("da"), col("n").as("na")), Seq("da"))
      .filter(col("i") * 10 >= col("na") * 8)
      .select(col("da"), col("db"),
        round(col("i") * lit(1.0) / col("na"), 6).as("containment"))
      .orderBy(col("da"), col("db"))
  }

  /** Tokenizer fertility per language (tokens-per-word + chars-per-token
    * — the multilingual tokenizer-efficiency dashboard: a language whose
    * fertility is high pays more sequence length per word, which skews
    * both training cost and mixing budgets). t61's BPE-ish regex as the
    * subword proxy; per-language corpus ratios from one aggregate (ratio
    * of sums, not mean-of-ratios — the corpus-level definition). */
  val qFertility: Q = Q(
    "t100_tokenizer_fertility",
    """SELECT lang,
      |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS words,
      |  CAST(sum(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')))
      |    AS BIGINT) AS subwords,
      |  round(sum(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')))
      |    * 1.0 / sum(len(string_split(text, ' '))), 6) AS fertility,
      |  round(sum(n_chars) * 1.0
      |    / sum(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]'))), 6)
      |    AS chars_per_subword
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin
  ) { (s, d) =>
    val subw = regexp_count(col("text"), lit("[a-z]+|[0-9]+|[^a-z0-9 ]")).cast("long")
    Tables.documents(s, d)
      .groupBy(col("lang"))
      .agg(sum(size(tokens).cast("long")).as("words"),
        sum(subw).as("subwords"),
        round(sum(subw) * lit(1.0) / sum(size(tokens).cast("long")), 6)
          .as("fertility"),
        round(sum(col("n_chars")) * lit(1.0) / sum(subw), 6)
          .as("chars_per_subword"))
      .orderBy(col("lang"))
  }

  /** Dedup-AWARE example weighting (the soft alternative to dropping
    * duplicates — downweight instead: each doc in an exact-dup cluster
    * of size n trains with weight 1/n, so the cluster contributes one
    * effective example and the loss is unbiased w.r.t. the deduped
    * corpus). Reports per-source effective size and redundancy — the
    * "how much of this source is actually new signal" mixing input.
    * Shape: one hash groupBy for cluster sizes + one hash-keyed join
    * back; both sides shuffle on the content hash, no pair explosion —
    * the t51 exact-dedup scale posture with a weight instead of a drop. */
  val qDedupWeights: Q = Q(
    "t101_dedup_weights",
    """WITH c AS (SELECT source, md5(text) AS h FROM documents),
      |g AS (SELECT h, count(*) AS csize FROM c GROUP BY h)
      |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
      |       round(sum(1.0 / csize), 6) AS effective_docs,
      |       round(1.0 - sum(1.0 / csize) / count(*), 6) AS redundancy
      |FROM c JOIN g USING (h)
      |GROUP BY source ORDER BY source""".stripMargin
  ) { (s, d) =>
    val c = Tables.documents(s, d).select(col("source"), md5(col("text")).as("h"))
    val g = c.groupBy(col("h")).agg(count(lit(1)).as("csize"))
    c.join(g, "h")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        round(sum(lit(1.0) / col("csize")), 6).as("effective_docs"),
        round(lit(1.0) - sum(lit(1.0) / col("csize")) / count(lit(1)), 6)
          .as("redundancy"))
      .orderBy(col("source"))
  }

  /** Per-document shingle NOVELTY (the curation audit behind "is this
    * crawl snapshot adding anything": share of a doc's 3-gram shingles
    * whose FIRST owner — min doc_id across the corpus — is the doc
    * itself; ingest-order novelty, dedup's additive complement).
    * Shape: the [[shingled]] relational trigrams, one shingle-keyed
    * groupBy for first owners, one join back, one doc-keyed aggregate —
    * every stage is key-partitioned, no pairs. */
  val qShingleNovelty: Q = Q(
    "t104_shingle_novelty",
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS ts
      |              FROM documents),
      |sh AS (SELECT DISTINCT doc_id,
      |         ts[i] || ' ' || ts[i + 1] || ' ' || ts[i + 2] AS s
      |       FROM (SELECT doc_id, ts, unnest(range(1, len(ts) - 1)) AS i
      |             FROM toks)),
      |own AS (SELECT s, min(doc_id) AS first_doc FROM sh GROUP BY s)
      |SELECT sh.doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
      |       CAST(sum(CASE WHEN own.first_doc = sh.doc_id THEN 1 ELSE 0 END)
      |            AS BIGINT) AS n_novel,
      |       round(sum(CASE WHEN own.first_doc = sh.doc_id THEN 1 ELSE 0 END)
      |             * 1.0 / count(*), 6) AS novelty
      |FROM sh JOIN own USING (s)
      |GROUP BY sh.doc_id ORDER BY sh.doc_id""".stripMargin
  ) { (s, d) =>
    val shx = shingled(Tables.documents(s, d))
      .transform(Scale.pin(_)) // first-doc table + join left side share it
    val own = shx.groupBy(col("s")).agg(min(col("doc_id")).as("first_doc"))
    // SHUFFLE_HASH (r14, the t75 finding): sort-merge would order the
    // full shingle stream by string key twice; the first-owner table is
    // one row per distinct shingle — a bounded hash build per partition
    shx.join(own.hint("SHUFFLE_HASH"), "s")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
          .as("n_novel"),
        round(sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
          * lit(1.0) / count(lit(1)), 6).as("novelty"))
      .orderBy(col("doc_id"))
  }

  /** Cross-SOURCE content-overlap matrix (the provenance audit behind
    * "which feeds copy from which": for each ordered source pair,
    * |shingles(a) ∩ shingles(b)| / |shingles(a)| — t99's directional
    * containment lifted from documents to sources). Shape: distinct
    * (source, shingle) pairs, one shingle-keyed self-join (per-shingle
    * fan-out ≤ |sources|², bounded like an LSH bucket), one pair-keyed
    * count, a broadcast per-source total — output is sources²-bounded
    * whatever the corpus size. */
  val qSourceOverlap: Q = Q(
    "t106_source_overlap_matrix",
    """WITH toks AS (SELECT source, string_split(text, ' ') AS ts
      |              FROM documents),
      |sh AS (SELECT DISTINCT source,
      |         ts[i] || ' ' || ts[i + 1] || ' ' || ts[i + 2] AS s
      |       FROM (SELECT source, ts, unnest(range(1, len(ts) - 1)) AS i
      |             FROM toks)),
      |tot AS (SELECT source, count(*) AS n_sh FROM sh GROUP BY source),
      |pairs AS (SELECT a.source AS src_a, b.source AS src_b,
      |            CAST(count(*) AS BIGINT) AS n_shared
      |          FROM sh a JOIN sh b ON a.s = b.s AND a.source <> b.source
      |          GROUP BY 1, 2)
      |SELECT src_a, src_b, n_shared,
      |       round(n_shared * 1.0 / tot.n_sh, 6) AS containment
      |FROM pairs JOIN tot ON pairs.src_a = tot.source
      |ORDER BY src_a, src_b""".stripMargin
  ) { (s, d) =>
    val docs = Tables.documents(s, d)
    // The distinct (source, shingle) frame feeds THREE consumers (per-
    // source totals + both sides of the self-join); without a persist the
    // tokenize→shingle→distinct pipeline runs three times. The frame is
    // sources-deduped (far smaller than the corpus), so MEMORY_AND_DISK
    // is safe at any SF. `source` rides the row-local shingle build
    // (shingleSets keep) — the former join-back onto the exploded
    // stream probed a hash per shingle for a value the doc row held
    // (optimization r20). Per-doc array_distinct then cross-doc
    // distinct yields exactly the same (source, s) set.
    val sh = shingleSets(docs, Seq("source"))
      .select(col("source"), explode_outer(col("shset")).as("s"))
      .filter(col("s").isNotNull)
      .distinct()
      .transform(Scale.pin(_))
    val tot = sh.groupBy(col("source")).agg(count(lit(1)).as("n_sh"))
    val a = sh.select(col("source").as("src_a"), col("s"))
    val b = sh.select(col("source").as("src_b"), col("s"))
    // SHUFFLE_HASH (r14): the build side is the sources-deduped frame —
    // ≤|sources| rows per shingle per partition — and hashing skips the
    // two string-key sorts a sort-merge self-join would pay
    a.join(b.hint("SHUFFLE_HASH"), Seq("s")).filter(col("src_a") =!= col("src_b"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("n_shared"))
      .join(broadcast(tot.withColumnRenamed("source", "src_a")), "src_a")
      .select(col("src_a"), col("src_b"), col("n_shared"),
        round(col("n_shared") * lit(1.0) / col("n_sh"), 6).as("containment"))
      .orderBy(col("src_a"), col("src_b"))
  }

  /** Quality-score vs duplication CALIBRATION (the sanity check before
    * trusting a quality filter: do low-quality bins actually carry the
    * duplication? — if dup_rate is flat across bins the score adds no
    * signal over dedup). Quality = t53's formula over the FULL corpus,
    * fixed 0.1-wide bins (score ∈ [0,1], so ≤11 bins — no quantile pass
    * needed); duplication = t51's min-doc_id ownership. Two hash-keyed
    * aggregates + one join; output is bins-bounded. */
  val qQualityDupCalibration: Q = Q(
    "t108_quality_dup_calibration",
    """WITH q AS (
      |  SELECT doc_id, text,
      |    round(least(1.0, len(string_split(text, ' ')) / 100.0)
      |      * (1 - len(list_filter(string_split(text, ' '),
      |           x -> list_contains(['the','a','of','and','to','in'], x)))
      |         * 1.0 / len(string_split(text, ' '))), 6) AS quality
      |  FROM documents),
      |own AS (SELECT text, min(doc_id) AS keeper FROM documents GROUP BY text),
      |j AS (SELECT q.doc_id, q.quality, q.doc_id <> own.keeper AS is_dup
      |      FROM q JOIN own USING (text))
      |SELECT CAST(floor(quality * 10) AS BIGINT) AS qbin,
      |       CAST(count(*) AS BIGINT) AS n_docs,
      |       round(avg(CASE WHEN is_dup THEN 1.0 ELSE 0.0 END), 6) AS dup_rate,
      |       round(avg(quality), 6) AS avg_quality
      |FROM j GROUP BY qbin ORDER BY qbin""".stripMargin
  ) { (s, d) =>
    val stopArr = array(stopwords.map(lit): _*)
    val docs = Tables.documents(s, d)
    val q = docs.withColumn("t", tokens)
      .withColumn("n_tokens", size(col("t")).cast("long"))
      .select(col("doc_id"), col("text"),
        round(least(lit(1.0), col("n_tokens") / 100.0)
          * (lit(1) - size(filter(col("t"), x => array_contains(stopArr, x)))
            * lit(1.0) / col("n_tokens")), 6).as("quality"))
    val own = docs.groupBy(col("text")).agg(min(col("doc_id")).as("keeper"))
    q.join(own, "text")
      .select(col("quality"), (col("doc_id") =!= col("keeper")).as("is_dup"))
      .groupBy(floor(col("quality") * 10).cast("long").as("qbin"))
      .agg(count(lit(1)).as("n_docs"),
        round(avg(when(col("is_dup"), 1.0).otherwise(0.0)), 6).as("dup_rate"),
        round(avg(col("quality")), 6).as("avg_quality"))
      .orderBy(col("qbin"))
  }

  /** One-row DATASET CARD (the summary block a dataset release ships:
    * size, token count, language/source spread, duplication, length
    * envelope) — every statistic from ONE scan: the distincts expand
    * inside a single aggregate, nothing is collected and re-scanned.
    * The exact count-distincts are the fixture form; at 100 TB each has
    * its approx_count_distinct twin (q12's posture). */
  val qDatasetCard: Q = Q(
    "t109_dataset_card",
    """SELECT CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
      |  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
      |  CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
      |  CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_unique,
      |  round(1.0 - count(DISTINCT md5(text)) * 1.0 / count(*), 6) AS dup_rate,
      |  CAST(min(n_chars) AS BIGINT) AS min_chars,
      |  CAST(max(n_chars) AS BIGINT) AS max_chars,
      |  round(avg(n_chars), 4) AS avg_chars
      |FROM documents""".stripMargin
  ) { (s, d) =>
    Tables.documents(s, d)
      .agg(count(lit(1)).as("n_docs"),
        sum(size(tokens).cast("long")).as("n_tokens"),
        countDistinct(col("lang")).as("n_langs"),
        countDistinct(col("source")).as("n_sources"),
        countDistinct(md5(col("text"))).as("n_unique"),
        round(lit(1.0) - countDistinct(md5(col("text"))) * lit(1.0)
          / count(lit(1)), 6).as("dup_rate"),
        min(col("n_chars")).as("min_chars"),
        max(col("n_chars")).as("max_chars"),
        round(avg(col("n_chars")), 4).as("avg_chars"))
  }

  /** ONE BPE MERGE STEP (tokenizer-training inner loop): the top merge
    * candidates = adjacent-symbol-pair counts over the corpus. The
    * scale-critical move is BPE's own: aggregate to the WORD-FREQUENCY
    * table first (vocabulary-bounded, ~√corpus), then explode each
    * distinct word once into its character pairs weighted by frequency —
    * the corpus text is scanned exactly once and every later merge
    * iteration would re-read only the word table. Guarded to len ≥ 2
    * (Spark's `sequence(1, 0)` DESCENDS — it would emit bogus pairs for
    * 1-char words). Top-20 by count with pair tie-break. */
  val qBpeMergeStep: Q = Q(
    "t111_bpe_merge_step",
    """WITH w AS (
      |  SELECT word, CAST(count(*) AS BIGINT) AS f
      |  FROM (SELECT unnest(string_split_regex(lower(text), '[^a-z]+')) AS word
      |        FROM documents)
      |  WHERE word <> '' GROUP BY word),
      |p AS (SELECT unnest([substr(word, i, 2) FOR i IN range(1, length(word))])
      |        AS pair, f
      |      FROM w WHERE length(word) >= 2)
      |SELECT pair, CAST(sum(f) AS BIGINT) AS n
      |FROM p GROUP BY pair ORDER BY n DESC, pair LIMIT 20""".stripMargin
  ) { (s, d) =>
    val words = Tables.documents(s, d)
      .select(explode_outer(split(lower(col("text")), "[^a-z]+")).as("word"))
      .filter(col("word").isNotNull) // outer+not-null: see shingled
      .filter(col("word") =!= "")
      .groupBy(col("word")).agg(count(lit(1)).as("f"))
    words.filter(length(col("word")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, length(word) - 1), i -> substring(word, i, 2))"))
        .as("pair"), col("f"))
      .groupBy(col("pair")).agg(sum(col("f")).as("n"))
      .orderBy(desc("n"), col("pair")).limit(20)
      .orderBy(desc("n"), col("pair"))
  }

  /** SCRIPT / CHARSET PROFILE (the companion to t56's n-gram language
    * ID): per-document character-class composition — letter and digit
    * ratios via strip-and-measure regexes (identical regex dialect in
    * both engines) — classified into alpha/numeric/mixed by THRESHOLD,
    * not argmax, so no tie-break can diverge; ratios round to 6 dp
    * before any comparison. The production form swaps the ASCII classes
    * for Unicode script blocks (\p{Han}, \p{Cyrillic}, …) in the same
    * two regex calls. Map-only scan plus a (lang × class)-bounded hash
    * aggregate — nothing here shuffles the corpus more than once. */
  val qScriptProfile: Q = Q(
    "t113_script_profile",
    """WITH c AS (SELECT lang, CAST(length(text) AS BIGINT) AS len,
      |    CAST(length(regexp_replace(lower(text), '[^a-z]', '', 'g'))
      |      AS BIGINT) AS nl,
      |    CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS BIGINT)
      |      AS nd
      |  FROM documents WHERE length(text) > 0),
      |r AS (SELECT lang, round(nl * 1.0 / len, 6) AS lr,
      |        round(nd * 1.0 / len, 6) AS dr FROM c),
      |k AS (SELECT lang,
      |        CASE WHEN lr >= 0.5 THEN 'alpha'
      |             WHEN dr >= 0.2 THEN 'numeric'
      |             ELSE 'mixed' END AS script_class, lr FROM r)
      |SELECT lang, script_class, CAST(count(*) AS BIGINT) AS n_docs,
      |  round(avg(lr), 4) AS avg_letter_ratio
      |FROM k GROUP BY lang, script_class
      |ORDER BY lang, script_class""".stripMargin
  ) { (s, d) =>
    val c = Tables.documents(s, d).filter(length(col("text")) > 0)
      .select(col("lang"), length(col("text")).cast("long").as("len"),
        length(regexp_replace(lower(col("text")), "[^a-z]", ""))
          .cast("long").as("nl"),
        length(regexp_replace(col("text"), "[^0-9]", ""))
          .cast("long").as("nd"))
    val r = c.select(col("lang"),
      round(col("nl") * lit(1.0) / col("len"), 6).as("lr"),
      round(col("nd") * lit(1.0) / col("len"), 6).as("dr"))
    r.withColumn("script_class",
        when(col("lr") >= 0.5, lit("alpha"))
          .when(col("dr") >= 0.2, lit("numeric"))
          .otherwise(lit("mixed")))
      .groupBy(col("lang"), col("script_class"))
      .agg(count(lit(1)).as("n_docs"),
        round(avg(col("lr")), 4).as("avg_letter_ratio"))
      .orderBy(col("lang"), col("script_class"))
  }

  /** DISTINCTIVE VOCABULARY PER SOURCE (Monroe et al's "Fightin' Words"
    * log-odds-ratio with add-0.5 smoothing — the corpus-comparison pass
    * that answers "what does THIS source say that the rest don't",
    * which raw TF-IDF (t55) can't: tf-idf rewards rarity, log-odds
    * z-scores reward DISPROPORTION and discount low-count noise by the
    * variance term). For token w in source s vs the rest of the corpus:
    * δ = ln((k_sw+.5)/(n_s−k_sw+.5)) − ln((k_w−k_sw+.5)/(N−n_s−k_w+k_sw+.5)),
    * z = δ/√(1/(k_sw+.5) + 1/(k_w−k_sw+.5)); top-3 per source by z.
    * One corpus scan builds the (source, token) counts; token totals and
    * source totals are RE-aggregations of that table (never a rescan);
    * the rest-of-corpus side is derived by subtraction, so no
    * anti-join; per-source top-3 is a window over the source's own
    * vocabulary. */
  val qDistinctiveTerms: Q = Q(
    "t114_distinctive_terms",
    """WITH st AS (SELECT source, tok, CAST(count(*) AS BIGINT) AS k_sw
      |            FROM (SELECT source, unnest(string_split(text, ' ')) AS tok
      |                  FROM documents)
      |            GROUP BY source, tok),
      |tw AS (SELECT tok, sum(k_sw) AS k_w FROM st GROUP BY tok),
      |sw AS (SELECT source, sum(k_sw) AS n_s FROM st GROUP BY source),
      |g AS (SELECT sum(k_sw) AS n FROM st),
      |z AS (SELECT st.source, st.tok, st.k_sw,
      |        (ln((st.k_sw + 0.5) / (sw.n_s - st.k_sw + 0.5))
      |         - ln((tw.k_w - st.k_sw + 0.5)
      |              / (g.n - sw.n_s - tw.k_w + st.k_sw + 0.5)))
      |        / sqrt(1.0 / (st.k_sw + 0.5) + 1.0 / (tw.k_w - st.k_sw + 0.5))
      |          AS zs
      |      FROM st JOIN tw USING (tok) JOIN sw USING (source) CROSS JOIN g)
      |SELECT source, tok, k_sw, round(zs, 6) AS z_score
      |FROM (SELECT *, row_number() OVER (PARTITION BY source
      |        ORDER BY zs DESC, tok) AS rn FROM z) t
      |WHERE rn <= 3 ORDER BY source, z_score DESC, tok""".stripMargin
  ) { (s, d) =>
    val st = Tables.documents(s, d)
      .select(col("source"), explode_outer(tokens).as("tok"))
      .filter(col("tok").isNotNull) // outer+not-null: see shingled
      .groupBy(col("source"), col("tok")).agg(count(lit(1)).as("k_sw"))
    val tw = st.groupBy(col("tok")).agg(sum(col("k_sw")).as("k_w"))
    val sw = st.groupBy(col("source")).agg(sum(col("k_sw")).as("n_s"))
    val g = st.agg(sum(col("k_sw")).as("n"))
    val z = st.join(tw, Seq("tok"))
      .join(broadcast(sw), Seq("source"))
      .crossJoin(broadcast(g))
      .withColumn("zs",
        (log((col("k_sw") + 0.5) / (col("n_s") - col("k_sw") + 0.5))
          - log((col("k_w") - col("k_sw") + 0.5)
            / (col("n") - col("n_s") - col("k_w") + col("k_sw") + 0.5)))
          / sqrt(lit(1.0) / (col("k_sw") + 0.5)
            + lit(1.0) / (col("k_w") - col("k_sw") + 0.5)))
    val w = Window.partitionBy(col("source")).orderBy(desc("zs"), col("tok"))
    z.withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
      .select(col("source"), col("tok"), col("k_sw"),
        round(col("zs"), 6).as("z_score"))
      .orderBy(col("source"), desc("z_score"), col("tok"))
  }

  /** SKIP-GRAM WINDOW CO-OCCURRENCE (the word2vec / GloVe preprocessing
    * counts: unordered token pairs within a ±2 window — wider context
    * than t74's adjacent bigrams, and the raw input PMI/embedding
    * trainers consume). The window pairing NEVER self-joins the
    * position table (the naive |pos−pos'|≤2 join): each token instead
    * pairs with its lead(1) and lead(2) inside one per-document window
    * over the position explode — every in-window pair is generated
    * exactly once, fan-out is a flat 2× per token, and the window
    * partition is one document (doc-length-bounded, the t76 chunking
    * bound). Pairs canonicalize unordered via least/greatest, then one
    * map-side-combining count. Top-20. */
  val qSkipgramCooc: Q = Q(
    "t115_skipgram_cooccurrence",
    """WITH pos AS (
      |  SELECT doc_id, generate_subscripts(l, 1) AS pos, unnest(l) AS tok
      |  FROM (SELECT doc_id, string_split(text, ' ') AS l FROM documents)),
      |led AS (
      |  SELECT doc_id, tok,
      |         lead(tok, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS t1,
      |         lead(tok, 2) OVER (PARTITION BY doc_id ORDER BY pos) AS t2
      |  FROM pos),
      |pairs AS (
      |  SELECT least(tok, t1) AS wa, greatest(tok, t1) AS wb
      |  FROM led WHERE t1 IS NOT NULL
      |  UNION ALL
      |  SELECT least(tok, t2) AS wa, greatest(tok, t2) AS wb
      |  FROM led WHERE t2 IS NOT NULL)
      |SELECT wa, wb, CAST(count(*) AS BIGINT) AS n_cooc
      |FROM pairs GROUP BY wa, wb
      |ORDER BY n_cooc DESC, wa, wb LIMIT 20""".stripMargin
  ) { (s, d) =>
    // skip-k pairs ROW-LOCALLY off the token array (the r14 shingled
    // re-plan applied here too): the previous posexplode + lead window
    // shuffled and sorted the full token stream before a single pair
    // existed; pair construction is position arithmetic, so it belongs
    // in a narrow map — the only shuffle left is the map-side-combined
    // pair count
    val toks = Tables.documents(s, d).select(tokens.as("t"))
    // explode_OUTER + not-null, not explode (see shingled): the inferred
    // pre-Generate filter re-inlines split(text) into every t(i) —
    // O(tokens²). struct() is never null, so the filter only drops the
    // synthesized empty-array row — row-identical to plain explode.
    def skipPairs(k: Int): DataFrame =
      toks.select(explode_outer(when(size(col("t")) > k,
        transform(sequence(lit(0), size(col("t")) - 1 - k),
          i => struct(
            least(col("t")(i), col("t")(i + k)).as("wa"),
            greatest(col("t")(i), col("t")(i + k)).as("wb"))))
        .otherwise(array().cast("array<struct<wa:string,wb:string>>")))
        .as("p"))
        .filter(col("p").isNotNull)
        .select(col("p.wa").as("wa"), col("p.wb").as("wb"))
    skipPairs(1).unionAll(skipPairs(2))
      .groupBy(col("wa"), col("wb")).agg(count(lit(1)).as("n_cooc"))
      .orderBy(desc("n_cooc"), col("wa"), col("wb")).limit(20)
  }

  /** LENGTH-BUCKET PADDING WASTE (the batch-shape decision for training:
    * fixed-shape batches pad every sequence to its bucket ceiling, and
    * the bucket boundaries decide how much compute is spent on pad
    * tokens vs the t67 concat-and-chunk packing that wastes none).
    * Each doc's token count maps to the smallest ceiling in
    * {32, 64, 128, 256} (longer docs truncate to 256 — the cap is a
    * modeling choice surfaced as its own bucket row); per bucket:
    * docs, real tokens, padded tokens, efficiency = real/padded. Pure
    * map arithmetic + one hash aggregate — the cheapest query in the
    * curation family, and the one that justifies t67's existence
    * quantitatively. */
  val qPaddingWaste: Q = Q(
    "t116_padding_waste",
    """WITH n AS (SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS nt
      |           FROM documents),
      |b AS (SELECT nt,
      |        CASE WHEN nt <= 32 THEN 32 WHEN nt <= 64 THEN 64
      |             WHEN nt <= 128 THEN 128 ELSE 256 END AS bucket,
      |        CASE WHEN nt > 256 THEN 256 ELSE nt END AS kept
      |      FROM n)
      |SELECT bucket, CAST(count(*) AS BIGINT) AS n_docs,
      |       CAST(sum(kept) AS BIGINT) AS real_tokens,
      |       CAST(sum(bucket) AS BIGINT) AS padded_tokens,
      |       round(sum(kept) * 1.0 / sum(bucket), 6) AS efficiency
      |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin
  ) { (s, d) =>
    val nt = size(tokens).cast("long")
    Tables.documents(s, d)
      .select(nt.as("nt"))
      .select(col("nt"),
        when(col("nt") <= 32, 32L).when(col("nt") <= 64, 64L)
          .when(col("nt") <= 128, 128L).otherwise(256L).as("bucket"),
        when(col("nt") > 256, 256L).otherwise(col("nt")).as("kept"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("kept")).as("real_tokens"),
        sum(col("bucket")).as("padded_tokens"),
        round(sum(col("kept")) * lit(1.0) / sum(col("bucket")), 6)
          .as("efficiency"))
      .orderBy(col("bucket"))
  }

  private val t121ViewSeq = new java.util.concurrent.atomic.AtomicLong(0)

  /** CHARACTER-N-GRAM LANGUAGE PROFILE through the custom SQL TABLE
    * FUNCTION (round 11 — [[graft.functions.CharNgrams]], a Catalyst
    * `Generator` registered as `graft_char_ngrams` and invoked from SQL
    * text via LATERAL VIEW: the extension point the engine had not yet
    * exercised next to scalar Expressions, the optimizer Rule, and the
    * native as-of plan). Character trigrams over each doc's first 64
    * chars are THE classic language-ID feature family (word-free, so
    * they survive unsegmented scripts); the profile is each language's
    * top-5 trigrams. The Generator streams one row per gram into the
    * count aggregate — no per-row gram ARRAY is ever materialized
    * (`transform`+`explode` builds the array first; at a 64-char cap
    * that is 62 strings per row of allocation the Generator avoids).
    * Per-lang top-5 via a |langs|-partitioned window over the
    * |distinct grams| count table — aggregate-then-rank, never a rank
    * over raw gram rows. */
  val qCharNgramProfile: Q = Q(
    "t121_char_ngram_profile",
    """WITH s AS (SELECT lang, substr(text, 1, 64) AS p FROM documents),
      |g AS (SELECT lang,
      |        unnest([substr(p, CAST(i AS INT), 3)
      |                FOR i IN range(1, len(p) - 1)]) AS gram
      |      FROM s),
      |c AS (SELECT lang, gram, CAST(count(*) AS BIGINT) AS n
      |      FROM g GROUP BY 1, 2)
      |SELECT lang, gram, n, rk FROM (
      |  SELECT *, CAST(row_number() OVER (PARTITION BY lang
      |    ORDER BY n DESC, gram) AS BIGINT) AS rk FROM c) t
      |WHERE rk <= 5 ORDER BY lang, rk""".stripMargin
  ) { (s, d) =>
    graft.functions.GraftFunctions.ensureRegistered(s)
    val view = s"graft_docs_t121_${t121ViewSeq.incrementAndGet()}"
    Tables.documents(s, d).createOrReplaceTempView(view)
    try s.sql(
      s"""SELECT lang, gram, n, rk FROM (
         |  SELECT lang, gram, n, CAST(row_number() OVER (PARTITION BY lang
         |    ORDER BY n DESC, gram) AS BIGINT) AS rk
         |  FROM (SELECT lang, gram, count(*) AS n
         |        FROM $view
         |        LATERAL VIEW graft_char_ngrams(substring(text, 1, 64), 3) g
         |          AS pos, gram
         |        GROUP BY lang, gram) c) t
         |WHERE rk <= 5 ORDER BY lang, rk""".stripMargin)
    finally s.catalog.dropTempView(view)
  }

  /** RAG-style overlapping chunking (round 19): split each document
    * into token windows of 64 with stride 48 (16-token overlap) — the
    * retrieval-corpus preparation step between cleaning and embedding.
    * Chunks are built ROW-LOCALLY off the token array (transform over
    * the window starts, same shape as [[shingled]] — no token-stream
    * shuffle, no per-chunk re-split), so at 100 TB the chunker is a
    * pure map stage; the only exchange is the final per-doc rollup.
    * The per-doc profile (chunk count, summed chunk tokens/chars, last
    * window start) pins the window/stride arithmetic exactly: one
    * off-by-one in the overlap math shifts every sum. */
  val qRagChunking: Q = Q(
    "t125_rag_chunking",
    """WITH toks AS (
      |  SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
      |st AS (
      |  SELECT doc_id, tk,
      |         -- greatest(…,1) mirrors the Spark side's greatest(n-1,0)
      |         -- guard: a hypothetical zero-token doc yields ONE empty
      |         -- chunk on both sides, not a row-count divergence
      |         unnest(generate_series(0, greatest(len(tk), 1) - 1, 48))
      |           AS start
      |  FROM toks)
      |SELECT doc_id,
      |       count(*) AS n_chunks,
      |       CAST(sum(len(list_slice(tk, start + 1, start + 64)))
      |         AS BIGINT) AS sum_chunk_tokens,
      |       CAST(sum(length(array_to_string(
      |         list_slice(tk, start + 1, start + 64), ' ')))
      |         AS BIGINT) AS sum_chunk_chars,
      |       CAST(max(start) AS BIGINT) AS last_start
      |FROM st GROUP BY doc_id ORDER BY doc_id""".stripMargin
  ) { (s, d) =>
    val W = 64
    val S = 48
    Tables.documents(s, d)
      .select(col("doc_id"), tokens.as("t"))
      // explode_OUTER + not-null (see shingled): the inferred filter of a
      // non-outer Generate duplicates the chunk transform with split(text)
      // re-inlined into every slice — O(tokens²). struct() is never null
      // and the sequence is never empty, so rows are identical.
      .select(col("doc_id"), explode_outer(
        transform(
          sequence(lit(0), greatest(size(col("t")) - 1, lit(0)), lit(S)),
          st => struct(st.as("start"),
            slice(col("t"), st + 1, lit(W)).as("c")))).as("ch"))
      .filter(col("ch").isNotNull)
      .select(col("doc_id"), col("ch.start").as("start"),
        size(col("ch.c")).as("ct"),
        length(concat_ws(" ", col("ch.c"))).as("cc"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(col("ct")).cast("long").as("sum_chunk_tokens"),
        sum(col("cc")).cast("long").as("sum_chunk_chars"),
        max(col("start")).cast("long").as("last_start"))
      .orderBy(col("doc_id"))
  }

  val all: Seq[Q] = Seq(qTokenCounts, qLangStats, qExactDedup, qDedupKeepFirst,
    qQuality, qNgramJaccard, qTfIdf, qLangId, qFingerprint, qRegexTokens,
    qPipelineClean, qHeavyHitters, qDecontaminate, qRepetition,
    qCmsHeavyHitters, qBigramCounts, qTokenEntropy, qSegmentDedup,
    qCrossCorpusDedup, qDecontaminateExcise, qCurationFunnel, qContainment,
    qFertility, qDedupWeights, qShingleNovelty, qSourceOverlap,
    qQualityDupCalibration, qDatasetCard, qBpeMergeStep, qScriptProfile,
    qDistinctiveTerms, qSkipgramCooc, qPaddingWaste, qCharNgramProfile,
    qRagChunking)
}
