package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** BPE vocabulary induction (Sennrich et al. 2016): learn the first
  * `nMerges` byte-pair merges from the corpus word-frequency table.
  *
  * Spark-first shape: the corpus collapses to a (word, freq) table in ONE
  * distributed groupBy — at 100 TB that table is millions of rows (bounded
  * by distinct vocabulary, not corpus size; Heaps' law keeps it ≈10⁷ rows
  * ≈ hundreds of MB even for web-scale corpora). That bounded table is
  * collected ONCE and the k sequentially-dependent argmax rounds run
  * driver-side with incremental pair-count maintenance — the same
  * bounded-metadata-collect pattern as [[graft.ann.IvfIndex]]'s Lloyd's
  * fit, and the shape every production tokenizer trainer uses. The
  * previous formulation ran one full Spark pass per merge (32k merges ⇒
  * 32k sequential jobs); this one is exactly one Spark job regardless of
  * k. If the vocabulary ever outgrew driver memory, the distributed
  * fallback is `minFreq` pre-filtering (a standard trainer knob: the
  * argmax can never select a pair whose count is below the floor of any
  * retained word) — not resharding the sequential loop.
  *
  * The merge decision is deterministic: count DESC, then pair
  * lexicographic; merge application is greedy leftmost non-overlapping —
  * bit-identical to [[applyMerge]], the fold `encodeWords` still applies
  * distributed. The merge table is the training artifact (what a
  * tokenizer ships); applying it to new text is the already-covered
  * tokenization path. The registered queries carry full DuckDB oracles:
  * the merge rounds are data-dependent but their count is a query
  * constant, so the loop unrolls into k chained CTE stages
  * ([[graft.queries.OracleSql.bpeMergesSql]]) that replay count → argmax →
  * greedy rewrite bit-exactly. BpeSpec additionally differential-tests the
  * merge sequence against an independent single-node reference
  * implementation and pins the one-Spark-job bound with a listener.
  */
object Bpe {

  /** Hard driver-working-set bound for the collected word table (words):
    * past this, [[merges]] raises the effective `minFreq` to the smallest
    * frequency threshold that fits — see the cap note on [[merges]]. 10⁷
    * words ≈ 1–2 GB of driver strings+freqs, the Heaps'-law vocabulary of
    * a clean web-scale corpus; the only way to exceed it is the
    * frequency-1 junk tail the threshold rule drops first. */
  val MaxWordTable: Long = 10_000_000L

  /** (step, left, right, merged, pair_count) for the first `nMerges`
    * merges learned from `docs`(textCol).
    *
    * `minFreq` is the driver-working-set cap for web-scale corpora: words
    * occurring fewer than `minFreq` times are dropped INSIDE the
    * distributed aggregation, before anything is collected. On clean
    * natural language the distinct-word table is Heaps'-law bounded, but a
    * 100 TB web corpus's long tail (URLs, typos, code identifiers) reaches
    * 10⁸–10⁹ distinct words — and that tail is almost entirely
    * frequency-1, so a small threshold collapses the collected table by
    * orders of magnitude (standard practice: Sennrich's learn_bpe and the
    * HF/SentencePiece trainers all expose exactly this knob).
    *
    * What the cap guarantees, precisely: every pair's count is undercounted
    * by at most D = Σ_{dropped w} freq(w)·(symbols(w)−1) — the total pair
    * mass of the dropped tail, computed in the same job. When every
    * selected merge's count exceeds D (checked here, WARN otherwise), no
    * pair VISIBLE ONLY in dropped words could have out-counted any selected
    * merge, so the cap cannot have surfaced-or-hidden a merge; relative
    * order among retained pairs whose count gap is < D is the accepted
    * approximation every production trainer makes (BpeSpec pins empirical
    * sequence-invariance on the fixture corpus).
    *
    * `maxWords` (default [[MaxWordTable]]) is the HARD bound `minFreq`
    * alone could not give: at a true 10⁸–10⁹-distinct tail even
    * `minFreq = 2` can retain a multi-GB word table on the driver. When
    * the `minFreq`-filtered table still exceeds `maxWords`, the effective
    * threshold is raised to the smallest frequency f* whose
    * `count(freq ≥ f*) ≤ maxWords` — computed from the per-frequency
    * histogram (distinct frequency VALUES, a metadata-sized collect), so
    * the cap never global-sorts or tops-K the word table itself. Raising
    * a frequency floor is the same rule as `minFreq`, so the SAME
    * dropped-pair-mass audit covers everything below the effective
    * threshold. Degenerate escape: if even the single highest frequency
    * class outnumbers `maxWords` (only adversarial corpora — it means
    * >maxWords DISTINCT words sharing one count), that class is kept
    * whole and the breach is WARN-logged: merge quality degrades loudly,
    * the driver holds one frequency class, never the unbounded tail. */
  def merges(docs: DataFrame, textCol: String, nMerges: Int,
             minFreq: Long = 1L, maxWords: Long = MaxWordTable): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._

    // word-frequency table: the bounded working set — ONE distributed
    // aggregation; the minFreq + maxWords caps filter it before collection
    val wordTable = docs
      .select(explode(split(trim(col(textCol)), " ")).as("word"))
      .where(length(col("word")) > 0)
      .groupBy("word").agg(count(lit(1)).as("freq"))
    val t = wordTable.persist()
    val (wordFreq, droppedMass) =
      try {
        val effMinFreq = {
          val nKept = t.where(col("freq") >= minFreq).count()
          if (nKept <= maxWords) minFreq
          else {
            // per-frequency histogram: distinct COUNT values, bounded by
            // the max word frequency's log-ish spread — metadata-sized
            val byFreq = t.where(col("freq") >= minFreq)
              .groupBy("freq").agg(count(lit(1)).as("n"))
              .as[(Long, Long)].collect().sortBy(-_._1)
            var cum = 0L
            var cut = 0L
            for ((f, n) <- byFreq if cut == 0L)
              if (cum + n <= maxWords) cum += n else cut = f + 1L
            if (cum == 0L) {
              // the top frequency class alone exceeds maxWords: keep it
              // whole (dropping ALL words has no merge at all) and say so
              System.err.println(s"[bpe] WARN: the highest-frequency class " +
                s"(${byFreq.head._2} words at freq ${byFreq.head._1}) alone exceeds " +
                s"maxWords=$maxWords — keeping that class; the bound is breached loudly")
              byFreq.head._1
            } else cut
          }
        }
        val kept = t.where(col("freq") >= effMinFreq).as[(String, Long)].collect()
        // max undercount of ANY pair: total pair slots in dropped words —
        // char count is ≥ codepoint count, so D only gets more conservative
        // on astral-plane text
        val dropped =
          if (effMinFreq <= 1L) 0L
          else t.where(col("freq") < effMinFreq)
            .agg(coalesce(sum(col("freq") * (length(col("word")) - 1)), lit(0L)))
            .as[Long].head()
        (kept, dropped)
      } finally t.unpersist()

    val learned = learn(wordFreq, nMerges)
    learned.find(_._5 <= droppedMass).foreach { m =>
      System.err.println(s"[bpe] WARN: merge ${m._1} ('${m._2}'+'${m._3}', count ${m._5}) " +
        s"does not exceed the dropped-tail pair mass $droppedMass — " +
        s"minFreq=$minFreq may have perturbed the merge sequence from here on")
    }
    learned.toDF("step", "left", "right", "merged", "pair_count")
  }

  /** Driver-side merge learning over a collected word-frequency table,
    * with incremental pair-count maintenance: pair counts are built once
    * (O(total symbols)) and each merge re-counts only the words that
    * contain the merged pair — the classic trainer update rule. Pair
    * occurrences are counted per adjacent position ("aaa" holds (a,a)
    * twice), matching the previous distributed explode. The argmax comes
    * from a sorted set kept in sync with the counts (count DESC, pair
    * lexicographic), so each merge costs O(log P) to select plus
    * O(touched words) to update — a linear scan over all P pairs per
    * merge would dominate a real 32k-merge vocabulary at ~10⁶ pairs. */
  private[text] def learn(wordFreq: Array[(String, Long)], nMerges: Int): Seq[(Int, String, String, String, Long)] = {
    import scala.collection.mutable
    // split on code points (what Spark's substr(word, i, 1) yielded)
    val words: Array[Array[String]] = wordFreq.map { case (w, _) =>
      val b = Array.newBuilder[String]
      var i = 0
      while (i < w.length) {
        val cp = w.codePointAt(i)
        b += new String(Character.toChars(cp))
        i += Character.charCount(cp)
      }
      b.result()
    }
    val freqs: Array[Long] = wordFreq.map(_._2)

    val pairCount = mutable.HashMap.empty[(String, String), Long]
    val pairWords = mutable.HashMap.empty[(String, String), mutable.BitSet]
    // argmax order: count DESC, then (l, r) lexicographic BY CODE POINT —
    // the order Spark's UTF8String and DuckDB's VARCHAR binary collation
    // both implement, so the SQL-unrolled oracle picks the same merge on a
    // tie. Java's String.compareTo is UTF-16 code-unit order, which
    // diverges for supplementary-plane tokens (a surrogate sorts before
    // U+E000..U+FFFF); harmless on ASCII but wrong in general.
    val ranked = mutable.TreeSet.empty[(Long, String, String)](
      Ordering.Tuple3(Ordering.Long.reverse, codePointOrdering, codePointOrdering))
    def addPairs(wi: Int, sign: Long): Unit = {
      val syms = words(wi); val f = freqs(wi)
      var i = 0
      while (i < syms.length - 1) {
        val p = (syms(i), syms(i + 1))
        val old = pairCount.getOrElse(p, 0L)
        val c = old + sign * f
        if (old != 0L) ranked.remove((old, p._1, p._2))
        if (c == 0L) pairCount.remove(p)
        else { pairCount(p) = c; ranked.add((c, p._1, p._2)) }
        if (sign > 0) pairWords.getOrElseUpdate(p, mutable.BitSet.empty) += wi
        i += 1
      }
    }
    words.indices.foreach(addPairs(_, 1L))

    val out = Seq.newBuilder[(Int, String, String, String, Long)]
    var step = 0
    while (step < nMerges && pairCount.nonEmpty) {
      val (cnt, l, r) = ranked.head
      out += ((step, l, r, l + r, cnt))
      // rewrite only the words that contain the pair; stale indices (words
      // rewritten since registration) are filtered by a containment scan
      val touched = pairWords.remove((l, r)).getOrElse(mutable.BitSet.empty)
      for (wi <- touched) {
        val syms = words(wi)
        var has = false
        var i = 0
        while (!has && i < syms.length - 1) { has = syms(i) == l && syms(i + 1) == r; i += 1 }
        if (has) {
          addPairs(wi, -1L)
          words(wi) = applyMergeLocal(syms, l, r)
          addPairs(wi, 1L)
        }
      }
      step += 1
    }
    out.result()
  }

  /** Unicode code-point string order (≡ UTF-8 binary order): what Spark's
    * UTF8String.compareTo and DuckDB's VARCHAR collation compute. Equal to
    * Java's UTF-16 order except when exactly one side has a
    * supplementary-plane code point at the first difference. */
  private[text] val codePointOrdering: Ordering[String] = new Ordering[String] {
    def compare(a: String, b: String): Int = {
      var i = 0
      val la = a.length; val lb = b.length
      while (i < la && i < lb) {
        val ca = a.codePointAt(i); val cb = b.codePointAt(i)
        if (ca != cb) return Integer.compare(ca, cb)
        i += Character.charCount(ca)
      }
      Integer.compare(la - i, lb - i)
    }
  }

  /** Greedy leftmost non-overlapping merge of (l, r) — the driver-side
    * twin of [[applyMerge]]'s fold (after a merge the joined symbol, not
    * `l`, is what the next input compares against). */
  private[text] def applyMergeLocal(syms: Array[String], l: String, r: String): Array[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    for (s <- syms) {
      if (out.nonEmpty && out.last == l && s == r) out(out.length - 1) = l + r
      else out += s
    }
    out.toArray
  }

  /** Left-to-right single-pass merge of (l, r) inside a `syms` column: fold
    * symbols, joining a pending `l` with a following `r`. */
  private def applyMerge(l: String, r: String): org.apache.spark.sql.Column = {
    def q(s: String): String = "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"
    expr(
      s"""filter(concat(
         |  aggregate(syms, array(CAST(NULL AS STRING)),
         |    (acc, s) -> CASE
         |      WHEN element_at(acc, -1) = ${q(l)} AND s = ${q(r)}
         |        THEN concat(slice(acc, 1, size(acc) - 1), array(${q(l + r)}))
         |      ELSE concat(acc, array(s)) END),
         |  array()), s -> s IS NOT NULL)""".stripMargin.replaceAll("\n", " "))
  }

  /** Tokenize every distinct word with an already-learned ordered merge
    * list — the APPLY half of the tokenizer (merges() is the learn half).
    * Sennrich encode: each merge is applied everywhere in the word, in
    * learned order, via the same fold as training.
    *
    * 100 TB shape: the input is the DISTINCT word table (millions of rows,
    * never the corpus); each word is segmented once and the result joins
    * back to documents by word. The merge list is metadata (k rows,
    * collected by the caller); merge applications chain lazily with the
    * same every-3rd-round materialization as training, so the pass count
    * stays ~k/3 over the word table. */
  def encodeWords(words: DataFrame, merges: Seq[(String, String)]): DataFrame = {
    val ckptEvery = 3
    var cur = words
      .select(col("word"),
        expr("transform(sequence(1, length(word)), i -> substr(word, i, 1))").as("syms"))
    var persisted: Option[DataFrame] = None
    var chainDepth = 0
    merges.zipWithIndex.foreach { case ((l, r), i) =>
      cur = cur.select(col("word"), applyMerge(l, r).as("syms"))
      chainDepth += 1
      if (chainDepth >= ckptEvery && i < merges.size - 1) {
        val p = cur.persist()
        p.count()
        persisted.foreach(_.unpersist())
        persisted = Some(p)
        cur = p
        chainDepth = 0
      }
    }
    // materialize via localCheckpoint (same lifecycle as
    // ConnectedComponents' rounds): the result owns its blocks — reclaimed
    // when the frame is dropped — and every intermediate persist is
    // released HERE, so repeat callers pin nothing across calls
    val out = cur.select(col("word"), col("syms").as("subwords"),
      size(col("syms")).cast("long").as("n_subwords"))
      .transform(graft.sqlx.Lineage.truncate)
    persisted.foreach(_.unpersist())
    out
  }
}
