package graft.operators

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.functions.BpeApply

/** In-engine BPE tokenizer TRAINING loop (Sennrich et al. 2016,
  * arXiv:1508.07909) — the full-merge-table counterpart of q100's
  * single merge step, closing the train half of the train/apply pair
  * (apply = functions/BpeApply.scala).
  *
  * The real-trainer shape, kept at every step:
  *   - the corpus is touched exactly once, by the caller's
  *     word-frequency wordcount (map-side combine collapses it inside
  *     the scan tasks); the loop state is the VOCAB-sized table
  *     (word, freq, enc) — at 100 TB the vocabulary, not the corpus,
  *     bounds every iteration;
  *   - each step's pair count is a freq-weighted aggregate over that
  *     state (explode of per-word adjacent pairs → groupBy → sum,
  *     map-side combined to ≤ |pairs| rows);
  *   - the winner is a ONE-ROW collect (max count, then lexicographic
  *     (left, right) — the published tie-break), the same bounded
  *     driver artifact the q89 Lloyd step and q101's merge table
  *     already set the precedent for;
  *   - applying the winner is a single codegen `regexp_replace`
  *     rewrite of the SEP-wrapped encoding (BpeApply.mergeStep), and
  *     the state is `localCheckpoint`ed so lineage stays flat across
  *     iterations (the SemanticDedup precedent).
  *
  * The DuckDB oracle for q102 replays the identical algorithm as a
  * recursive CTE whose apply step is a `list_reduce` scanner (RE2 has
  * no lookahead, so the regex trick is not portable): merge when the
  * accumulator's last token equals `left` and the next token equals
  * `right`. That reduce equals the classic scanner pass because a
  * freshly merged token (`left || right`) can never itself equal
  * `left` (`right` is non-empty), so no chain-merging divergence is
  * possible within one step.
  *
  * reference: tokenizer surface / token budgeting
  * src/ETL_DOCS/processor.py:139
  */
object BpeTrain {

  /** Train `nMerges` merges over a `(word, freq)` table; returns the
    * merge table as `(rank: long, left, right)` rows, rank-ordered.
    * Stops early if the vocabulary runs out of adjacent pairs. */
  def merges(wf: DataFrame, nMerges: Int): Seq[(Long, String, String)] = {
    var state = wf
      .select(col("word"), col("freq"),
        BpeApply.charInit(col("word")).as("enc"))
      .localCheckpoint()
    val out = ArrayBuffer.empty[(Long, String, String)]
    var exhausted = false
    var rank = 0
    while (rank < nMerges && !exhausted) {
      val toks = filter(split(col("enc"), BpeApply.Sep), t => t =!= "")
      // adjacent token pairs, weighted by word frequency. The
      // size >= 2 guard matters: Spark's sequence(1, 0) would count
      // DOWN, fabricating pairs for single-token words.
      val best = state
        .select(col("freq"), toks.as("t"))
        .filter(size(col("t")) >= 2)
        .select(col("freq"), explode(
          expr("transform(sequence(1, size(t) - 1), " +
            "i -> struct(element_at(t, i) AS l, element_at(t, i + 1) AS r))"))
          .as("p"))
        .groupBy(col("p.l"), col("p.r"))
        .agg(sum(col("freq")).as("n"))
        .orderBy(col("n").desc, col("l"), col("r"))
        .limit(1)
        .collect() // ONE row: the argmax merge — bounded driver artifact
      if (best.isEmpty) exhausted = true
      else {
        val (l, r) = (best(0).getAs[String]("l"), best(0).getAs[String]("r"))
        out += ((rank.toLong, l, r))
        state = state
          .withColumn("enc", BpeApply.mergeStep(col("enc"), l, r))
          .localCheckpoint()
        rank += 1
      }
    }
    out.toSeq
  }

  /** Vocabulary-row ceiling below which the trainer loop runs on the
    * collected (word, freq) table instead of 2·nMerges Spark jobs.
    * The two-level shape every production tokenizer trainer uses
    * (HuggingFace tokenizers train on word counts in memory after the
    * distributed count): the CORPUS pass is always distributed; the
    * inherently sequential per-rank argmax loop runs wherever the
    * vocab table fits. 100k rows ≈ single-digit MB — a bounded
    * driver artifact by the PageRank-n / q101-merge-table convention;
    * a vocabulary that outgrows it takes the distributed loop above. */
  val LocalVocabMax = 100000L

  /** [[merges]] on the collected vocab table — the SAME algorithm with
    * the SAME java.util.regex rewrites (Spark's regexp_replace is
    * java.util.regex, so the encodings are bit-identical) and the same
    * (n desc, l, r) tie-break compared in UTF-8 byte order (Spark's
    * string ordering), exercised against the distributed path in
    * BpeTrainSpec and against the independent Python trainer fixture. */
  private[graft] def mergesLocal(wordFreq: Seq[(String, Long)],
                                 nMerges: Int): Seq[(Long, String, String)] = {
    import java.util.regex.{Matcher, Pattern}
    val Sep = BpeApply.Sep
    val utf8 = new Ordering[String] {
      def compare(a: String, b: String): Int = {
        val (x, y) = (a.getBytes("UTF-8"), b.getBytes("UTF-8"))
        var i = 0
        while (i < x.length && i < y.length) {
          val c = java.lang.Integer.compare(x(i) & 0xff, y(i) & 0xff)
          if (c != 0) return c
          i += 1
        }
        java.lang.Integer.compare(x.length, y.length)
      }
    }
    var state = wordFreq.map { case (w, f) =>
      (w.replaceAll("(?s)(.)", Matcher.quoteReplacement(Sep) + "$1") + Sep, f)
    }
    val out = ArrayBuffer.empty[(Long, String, String)]
    var rank = 0
    var exhausted = false
    while (rank < nMerges && !exhausted) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      state.foreach { case (enc, f) =>
        val t = enc.split(Sep).filter(_.nonEmpty)
        var i = 0
        while (i < t.length - 1) {
          val k = (t(i), t(i + 1))
          counts(k) = counts.getOrElse(k, 0L) + f
          i += 1
        }
      }
      if (counts.isEmpty) exhausted = true
      else {
        val ((l, r), _) = counts.minBy { case ((l, r), n) => (-n, l, r) }(
          Ordering.Tuple3(Ordering.Long, utf8, utf8))
        out += ((rank.toLong, l, r))
        val re = Pattern.quote(Sep + l + Sep + r) + "(?=" + Sep + ")"
        val repl = Matcher.quoteReplacement(Sep + l + r)
        state = state.map { case (enc, f) => (enc.replaceAll(re, repl), f) }
        rank += 1
      }
    }
    out.toSeq
  }

  /** The merge table as a rank-ordered DataFrame `(rank, left,
    * right)` — the q102 registry surface. Two-level: the corpus-sized
    * wordcount behind `wf` is always distributed; the sequential
    * per-rank loop runs locally when the vocab table is bounded
    * ([[LocalVocabMax]], or the `spark.graft.localExactMaxRows`
    * override every hybrid reads — [[LocalExact.limit]]) and as the
    * distributed [[merges]] loop otherwise. */
  def mergeTable(spark: SparkSession, wf: DataFrame, nMerges: Int): DataFrame = {
    import spark.implicits._
    val rows = wf.select(col("word").cast(org.apache.spark.sql.types.StringType),
      col("freq").cast(LongType)).persist()
    val table =
      if (rows.count() <= LocalExact.limit(spark, LocalVocabMax))
        mergesLocal(rows.collect().map(r => (r.getString(0), r.getLong(1))).toSeq,
          nMerges)
      else merges(rows.toDF("word", "freq"), nMerges)
    rows.unpersist(blocking = false)
    table
      .toDF("rank", "left", "right")
      .select(col("rank").cast(LongType), col("left"), col("right"))
      .orderBy(col("rank"))
  }
}
