package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Corpus-analysis operators for the LLM training-data pipeline: language
  * identification (marker-word profiles), quality scoring (length /
  * uniqueness / character-class ratios), token counting (whitespace +
  * BPE-ish regex pieces), and document fingerprinting. Everything is
  * codegen'd column expressions over one scan — no UDFs, no shuffle
  * (fingerprint dedup reuses graft.dedup.Exact's hash-groupBy).
  */
object Corpus {
  private def toks(text: Column): Column = split(trim(text), " ")

  private def countOf(tokens: Column, word: String): Column =
    size(filter(tokens, t => t === word))

  /** Marker-word profiles per language (n-gram/stopword heuristic — the
    * corpus is synthetic so profiles come from its vocabulary; the operator
    * shape is what matters, argmax with deterministic tie-break). */
  val Profiles: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("agg", "hash", "sort", "vector"),
    "en" -> Seq("the", "a", "key", "table"),
    "es" -> Seq("data", "stream", "group", "row"),
    "fr" -> Seq("window", "query", "order", "line"),
    "zh" -> Seq("merge", "batch", "big", "join"))

  def langId(spark: SparkSession, dir: String): DataFrame = {
    val t = toks(col("text"))
    val scored = Profiles.foldLeft(Tables.documents(spark, dir).withColumn("tokens", t)) {
      case (df, (lang, words)) =>
        df.withColumn(s"score_$lang",
          words.map(w => countOf(col("tokens"), w)).reduce(_ + _).cast("double") /
            greatest(size(col("tokens")), lit(1)).cast("double"))
    }
    // argmax with first-in-order tie-break: fold keeping (bestLang, bestScore)
    val ordered = Profiles.map(_._1)
    val (bestLang, _) = ordered.tail.foldLeft(
      (lit(ordered.head), col(s"score_${ordered.head}"))) { case ((bl, bs), l) =>
      (when(col(s"score_$l") > bs, lit(l)).otherwise(bl),
        when(col(s"score_$l") > bs, col(s"score_$l")).otherwise(bs))
    }
    scored
      .withColumn("predicted_lang", bestLang)
      .withColumn("is_correct", col("predicted_lang") === col("lang"))
      .select(Seq(col("doc_id"), col("lang"), col("predicted_lang"), col("is_correct")) ++
        Profiles.map { case (l, _) => col(s"score_$l") }: _*)
  }

  def quality(spark: SparkSession, dir: String): DataFrame = {
    val t = toks(col("text"))
    Tables.documents(spark, dir)
      .withColumn("tokens", t)
      .withColumn("char_len", length(col("text")))
      .withColumn("token_cnt", size(col("tokens")))
      .withColumn("uniq_token_cnt", size(array_distinct(col("tokens"))))
      .withColumn("digit_cnt", size(expr("regexp_extract_all(text, '[0-9]', 0)")))
      .withColumn("punct_cnt", size(expr("regexp_extract_all(text, '[.,!?;:]', 0)")))
      .withColumn("avg_word_len",
        (col("char_len") - (col("token_cnt") - 1)).cast("double") / col("token_cnt").cast("double"))
      .withColumn("uniq_ratio", col("uniq_token_cnt").cast("double") / col("token_cnt").cast("double"))
      .withColumn("digit_ratio", col("digit_cnt").cast("double") / greatest(col("char_len"), lit(1)).cast("double"))
      .withColumn("quality_score",
        least(lit(1.0), col("token_cnt").cast("double") / 50.0) * 0.4 +
          col("uniq_ratio") * 0.4 +
          (lit(1.0) - least(lit(1.0), col("digit_ratio") * 10.0)) * 0.2)
      .select("doc_id", "char_len", "token_cnt", "uniq_token_cnt", "avg_word_len",
        "uniq_ratio", "digit_ratio", "punct_cnt", "quality_score")
  }

  def tokens(spark: SparkSession, dir: String): DataFrame = {
    val t = toks(col("text"))
    Tables.documents(spark, dir)
      .withColumn("token_count", size(t))
      .withColumn("uniq_token_count", size(array_distinct(t)))
      .withColumn("bpe_piece_count",
        size(expr("regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)")))
      .withColumn("char_count", length(col("text")))
      .select("doc_id", "token_count", "uniq_token_count", "bpe_piece_count", "char_count")
  }

  /** Vocabulary construction: corpus-wide token frequencies, top-k by
    * occurrence count (ties broken by token). The aggregation is a plain
    * hash groupBy over the exploded tokens (map-side partials shrink the
    * shuffle to |vocab| per partition) and the top-k is a
    * TakeOrderedAndProject — per-partition heaps merged on the driver,
    * never a global sort shuffle. */
  def vocab(spark: SparkSession, dir: String, k: Int = 100): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), explode(toks(col("text"))).as("token"))
      .groupBy("token")
      .agg(count(lit(1)).as("n_occurrences"),
        countDistinct(col("doc_id")).as("n_docs"))
      .orderBy(col("n_occurrences").desc, col("token"))
      .limit(k)

  /** Intra-document repetition signals (the Gopher quality-filter family,
    * Rae et al. 2021 §A1.1: duplicate/top n-gram fractions): for n ∈ {2,3},
    * the fraction of the doc's n-grams that occur in repeated n-grams and
    * the fraction claimed by the single most frequent n-gram. A highly
    * repetitive doc (boilerplate, template spam, degenerate generations)
    * scores high and is flagged.
    *
    * Scale shape: explode → count per (doc, gram) → per-doc rollup. Both
    * aggregations partial map-side; the shuffle key (doc_id, gram) is the
    * finest granularity available, so even a pathological single giant doc
    * spreads across tasks rather than funneling into one group. */
  def repetition(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(spark, dir)
      .select(col("doc_id"), toks(col("text")).as("tk"))
      .withColumn("n_tokens", size(col("tk")))

    def gramStats(n: Int): DataFrame =
      base
        .where(col("n_tokens") >= n)
        .select(col("doc_id"), explode(expr(
          s"transform(sequence(0, size(tk) - $n), i -> array_join(slice(tk, i + 1, $n), ' '))")).as("gram"))
        .groupBy("doc_id", "gram").agg(count(lit(1)).as("cnt"))
        .groupBy("doc_id").agg(
          sum(col("cnt")).as(s"total_$n"),
          max(col("cnt")).as(s"max_$n"),
          sum(when(col("cnt") > 1, col("cnt")).otherwise(0L)).as(s"dup_$n"))

    def frac(num: Column, den: Column): Column =
      graft.sqlx.Exact.r4(num.cast("double") / den.cast("double"))

    base.select("doc_id", "n_tokens")
      .join(gramStats(2), Seq("doc_id"), "left")
      .join(gramStats(3), Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        frac(col("dup_2"), col("total_2")).as("dup_2gram_frac"),
        frac(col("max_2"), col("total_2")).as("top_2gram_frac"),
        frac(col("dup_3"), col("total_3")).as("dup_3gram_frac"),
        frac(col("max_3"), col("total_3")).as("top_3gram_frac"))
      .withColumn("is_repetitive",
        coalesce(col("top_2gram_frac") > 0.20, lit(false)) ||
          coalesce(col("top_3gram_frac") > 0.18, lit(false)) ||
          coalesce(col("dup_3gram_frac") > 0.30, lit(false)))
  }

  /** Cross-document duplicated-span analysis (the exact-substring half of
    * RefinedWeb-style dedup, Penedo et al. 2023 §4.2: duplicated passages
    * matter even when whole documents differ): every w-token window of every
    * doc is checked for occurrence in ANY other doc, and each doc reports
    * how much of it is made of such shared spans. High fractions mean
    * boilerplate or partial copies that document-level dedup misses.
    *
    * Scale shape: explode windows → per-(doc, gram) counts (one row per
    * distinct window per doc, map-side partial) → gram document-frequency →
    * join back on gram. Both shuffles key on the gram — the finest grain —
    * and the df join is an equi-join that reuses the gram partitioning. At
    * 100 TB the gram would be a 64-bit rolling hash instead of the string;
    * the string keeps the oracle byte-comparable here. */
  def dupSpans(spark: SparkSession, dir: String, w: Int = 8): DataFrame = {
    val base = Tables.documents(spark, dir)
      .select(col("doc_id"), toks(col("text")).as("tk"))
      .withColumn("n_tokens", size(col("tk")))

    val winCounts = base
      .where(col("n_tokens") >= w)
      .select(col("doc_id"), explode(expr(
        s"transform(sequence(0, size(tk) - $w), i -> array_join(slice(tk, i + 1, $w), ' '))")).as("gram"))
      .groupBy("doc_id", "gram").agg(count(lit(1)).as("cnt"))

    val docFreq = winCounts.groupBy("gram").agg(count(lit(1)).as("df"))

    val perDoc = winCounts.join(docFreq, "gram")
      .groupBy("doc_id").agg(
        sum(col("cnt")).as("n_windows"),
        sum(when(col("df") >= 2, col("cnt")).otherwise(0L)).as("n_shared_windows"))

    base.select("doc_id", "n_tokens")
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_windows"), lit(0L)).as("n_windows"),
        coalesce(col("n_shared_windows"), lit(0L)).as("n_shared_windows"),
        graft.sqlx.Exact.r4(
          coalesce(col("n_shared_windows"), lit(0L)).cast("double") /
            greatest(coalesce(col("n_windows"), lit(0L)), lit(1L)).cast("double"))
          .as("shared_window_frac"),
        (coalesce(col("n_shared_windows"), lit(0L)) > 0).as("has_cross_dup"))
  }

  /** Duplicated-span REWRITE — the removal half of exact-substring dedup
    * ([[dupSpans]] reports; this rewrites): every occurrence of a w-token
    * window that appears elsewhere in the corpus is REMOVED except the
    * canonical first occurrence (smallest (doc_id, position)), and each
    * document is reassembled from its surviving tokens — Lee et al. 2022
    * ("Deduplicating Training Data Makes Language Models Better") /
    * RefinedWeb exact-substring removal, re-expressed as one gram-keyed
    * window pass: occurrence rank = row_number over (gram → doc_id, pos),
    * rank ≥ 2 marks pos..pos+w-1 covered, and an anti-join on (doc, token
    * position) drops covered tokens. Overlapping duplicated windows union
    * naturally through the position-level distinct.
    *
    * Scale shape: the ONLY corpus-wide shuffle keys on the gram (finest
    * grain, same posture as [[dupSpans]]); coverage explode is ≤ w rows
    * per duplicated window; reassembly groups by doc_id with an in-group
    * sort (array_sort over (pos, token) structs — bounded by document
    * length, never corpus-wide). At 100 TB the gram would be a 64-bit
    * rolling hash; the string keeps the oracle byte-comparable. */
  def dupSpanRewrite(spark: SparkSession, dir: String, w: Int = 8): DataFrame =
    rewriteSpans(Tables.documents(spark, dir), w)

  /** [[dupSpanRewrite]] over any (doc_id, text) frame — the spec fixture
    * entry. */
  def rewriteSpans(docs: DataFrame, w: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = docs
      .select(col("doc_id"), toks(col("text")).as("tk"))
      .withColumn("n_tokens", size(col("tk")))
    val occ = base.where(col("n_tokens") >= w)
      .select(col("doc_id"), posexplode(expr(
        s"transform(sequence(1, size(tk) - $w + 1), i -> array_join(slice(tk, i, $w), ' '))")))
      .select(col("doc_id"), (col("pos") + 1).as("pos"), col("col").as("gram"))
    val dup = occ.withColumn("rk",
        row_number().over(Window.partitionBy("gram").orderBy("doc_id", "pos")))
      .where(col("rk") >= 2)
    val covered = dup
      .select(col("doc_id"), explode(sequence(col("pos"), col("pos") + lit(w - 1))).as("p"))
      .distinct()
    val tokpos = base.select(col("doc_id"), posexplode(col("tk")))
      .select(col("doc_id"), (col("pos") + 1).as("p"), col("col").as("token"))
    val kept = tokpos.join(covered, Seq("doc_id", "p"), "left_anti")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_kept"),
        array_join(transform(array_sort(collect_list(struct(col("p"), col("token")))),
          x => x.getField("token")), " ").as("text_clean"))
    base.select("doc_id", "n_tokens")
      .join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        (col("n_tokens") - coalesce(col("n_kept"), lit(0L))).cast("long").as("n_removed"),
        coalesce(col("text_clean"), lit("")).as("text_clean"))
  }

  /** Per-document keyword extraction by tf-idf: top-k tokens per doc ranked
    * by cnt·ln(N/df) with a deterministic token tie-break. The corpus-size
    * scalar N rides a broadcast 1-row cross join (never a collect); tf and
    * df come from the same (doc, token) count frame, so one explode feeds
    * both aggregations. The ranking window partitions by doc_id — bounded
    * by tokens-per-doc, never corpus-wide. */
  def keywords(spark: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val tf = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(toks(col("text"))).as("token"))
      .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("token").agg(count(lit(1)).as("df"))
    val n = Tables.documents(spark, dir).agg(count(lit(1)).as("n_docs"))
    val scored = tf.join(df, "token")
      .crossJoin(broadcast(n))
      .withColumn("tfidf",
        col("tf").cast("double") * log(col("n_docs").cast("double") / col("df").cast("double")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("tfidf").desc, col("token"))
    scored
      .withColumn("rank", row_number().over(w).cast("int"))
      .where(col("rank") <= k)
      .select(col("doc_id"), col("rank"), col("token"), col("tf"), col("df"),
        graft.sqlx.Exact.r4(col("tfidf")).as("tfidf"))
  }

  def fingerprint(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("fingerprint", graft.dedup.Exact.normalizedExact(col("text")))
      .withColumn("fingerprint_prefix", substring(col("fingerprint"), 1, 8))
      .select("doc_id", "fingerprint", "fingerprint_prefix")
}
