package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Single-task exact all-pairs set-similarity kernel — the
  * [[LocalExact]] path for the prefix-filtered Bayardo join family
  * (q133 all-pairs, q165 incremental): below the document threshold
  * the whole df-rank → prefix → candidate → verify chain runs as ONE
  * executor task over the checkpointed (doc_id, arr, sz) relation,
  * replacing an 8-stage distributed plan whose per-stage scheduling
  * dominates at small corpus sizes. The distributed Bayardo plan
  * stays the over-threshold path — at 100 TB the prefix equi-join is
  * the only shape that works; this is dispatch, not replacement.
  *
  * Exactness contract (pinned by LocalExactParitySpec forcing
  * `spark.graft.localExactMaxRows=0`): the OUTPUT is the full set of
  * pairs with 3·inter ≥ sz1+sz2 and the identical integer jac_bp =
  * (inter·10000) div (sz1+sz2−inter). The prefix filter is complete
  * for ANY global total order on shingles (Bayardo, WWW 2007 §3 —
  * the canonical-ordering argument), so this kernel may intern
  * shingles to dense ints and rank by (df, intern-id) where the
  * distributed plan ranks by (df, utf8) — candidate sets differ at
  * df ties, verified OUTPUTS are identical. Interning also makes the
  * verify intersect an int two-pointer instead of ~40M UTF8 string
  * compares (measured 3.2 s → ~0.1 s at sf0.1).
  */
object AllPairsLocal {

  private final case class Doc(id: Long, base: Boolean,
                               sorted: Array[Int], // ascending intern ids (verify)
                               prefix: Array[Int]) { // rarest-first ⌊sz/2⌋+1 ids
    def sz: Long = sorted.length.toLong
  }

  private def internDocs(rows: Iterator[Row], baseAt: Int,
                         prefixDiv: Int = 2): Array[Doc] = {
    val ids = new java.util.HashMap[String, Integer]()
    val df = new scala.collection.mutable.ArrayBuffer[Int]()
    val raw = rows.map { r =>
      val arr = r.getSeq[String](1)
      val a = new Array[Int](arr.length)
      var i = 0
      arr.foreach { w =>
        var id = ids.get(w)
        if (id == null) { id = ids.size(); ids.put(w, id); df += 0 }
        df(id) += 1
        a(i) = id
        i += 1
      }
      (r.getLong(0), if (baseAt >= 0) r.getBoolean(baseAt) else false, a)
    }.toArray
    raw.map { case (docId, base, a) =>
      // global rank (df asc, intern-id asc) — a total order, so the
      // prefix-filter completeness bound applies
      val byRank = a.clone()
      sortBy(byRank, id => (df(id).toLong << 32) | id.toLong)
      val sorted = a.clone()
      java.util.Arrays.sort(sorted)
      Doc(docId, base, sorted, byRank.take(a.length / prefixDiv + 1))
    }
  }

  private def sortBy(a: Array[Int], key: Int => Long): Unit = {
    val boxed = a.map(i => (key(i), i)).sortBy(_._1)
    var i = 0
    while (i < a.length) { a(i) = boxed(i)._2; i += 1 }
  }

  /** Group doc indices by IDENTICAL interned shingle sets — the
    * PPJoin-family duplicate-elimination step: replicated or
    * boilerplate-heavy corpora put many docs on the same set, and
    * verifying once per GROUP pair instead of once per doc pair cuts
    * the dominant verify volume by the square of the replication
    * factor (measured: q133's 10× ScaleTrial 34 s → output-bound). */
  private def groupBySet(docs: Array[Doc]): Array[Array[Int]] = {
    val m = new java.util.LinkedHashMap[java.nio.IntBuffer, scala.collection.mutable.ArrayBuffer[Int]]()
    var i = 0
    while (i < docs.length) {
      m.computeIfAbsent(java.nio.IntBuffer.wrap(docs(i).sorted),
        _ => scala.collection.mutable.ArrayBuffer.empty) += i
      i += 1
    }
    val out = new Array[Array[Int]](m.size())
    var gi = 0
    m.values().forEach { g => out(gi) = g.toArray; gi += 1 }
    out
  }

  /** Identical-set groups (see [[groupBySet]]), one representative
    * doc each, and an inverted index from each shingle to the groups
    * whose `indexed(rep)` array holds it, ascending group index. The
    * indexed array is the prefix (q133/q165) or the full set (q143). */
  private final class GroupIndex(docs: Array[Doc], indexed: Doc => Array[Int]) {
    val groups: Array[Array[Int]] = groupBySet(docs)
    val reps: Array[Doc] = groups.map(g => docs(g(0)))
    val postings: Array[Array[Int]] = {
      val nShingles = reps.iterator.map(d =>
        if (d.sorted.isEmpty) 0 else d.sorted(d.sorted.length - 1) + 1)
        .foldLeft(0)(math.max)
      val counts = new Array[Int](nShingles)
      reps.foreach(indexed(_).foreach(w => counts(w) += 1))
      val index = counts.map(n => if (n == 0) Array.emptyIntArray else new Array[Int](n))
      java.util.Arrays.fill(counts, 0)
      var gi = 0
      while (gi < reps.length) {
        indexed(reps(gi)).foreach { w => index(w)(counts(w)) = gi; counts(w) += 1 }
        gi += 1
      }
      index
    }
  }

  /** |A ∩ B| of two ascending interned sets (two-pointer walk). */
  private def intersect(a: Array[Int], b: Array[Int]): Long = {
    var (u, v, inter) = (0, 0, 0L)
    while (u < a.length && v < b.length) {
      val c = a(u) - b(v)
      if (c == 0) { inter += 1L; u += 1; v += 1 }
      else if (c < 0) u += 1
      else v += 1
    }
    inter
  }

  /** Verified (a, b, inter) for candidate pairs under `orient` (which
    * also fixes the emitted orientation). Candidates are generated and
    * verified at identical-set GROUP granularity, then fanned out to
    * member pairs — output-identical to the doc-level loop (identical
    * sets ⟹ identical prefixes, candidacy, inter and thresholds). */
  private def verifiedPairs(docs: Array[Doc],
                            orient: (Doc, Doc) => Boolean): Iterator[(Doc, Doc, Long)] = {
    val gx = new GroupIndex(docs, _.prefix)
    import gx.{groups, reps}
    val out = scala.collection.mutable.ArrayBuffer.empty[(Doc, Doc, Long)]
    def emitMembers(g1: Array[Int], g2: Array[Int], inter: Long): Unit = {
      var x = 0
      while (x < g1.length) {
        var y = 0
        while (y < g2.length) {
          val (p, q) = (g1(x), g2(y))
          if (p != q) {
            if (orient(docs(p), docs(q))) out += ((docs(p), docs(q), inter))
            else if (g1 eq g2) () // intra-group: the (q, p) order arrives on its own iteration
            else if (orient(docs(q), docs(p))) out += ((docs(q), docs(p), inter))
          }
          y += 1
        }
        x += 1
      }
    }
    // intra-group pairs: identical nonempty sets are mutual candidates
    // (shared prefix) with inter = sz, passing 3·sz ≥ 2·sz always
    groups.zipWithIndex.foreach { case (g, i0) =>
      if (g.length >= 2 && reps(i0).sorted.nonEmpty)
        emitMembers(g, g, reps(i0).sz)
    }
    val seen = new LongSet(1 << 16)
    gx.postings.foreach { bucket =>
      var x = 0
      while (x < bucket.length) {
        var y = x + 1
        while (y < bucket.length) {
          val (p, q) = (math.min(bucket(x), bucket(y)), math.max(bucket(x), bucket(y)))
          if (seen.add((p.toLong << 32) | q.toLong)) {
            val inter = intersect(reps(p).sorted, reps(q).sorted)
            if (3L * inter >= reps(p).sz + reps(q).sz)
              emitMembers(groups(p), groups(q), inter)
          }
          y += 1
        }
        x += 1
      }
    }
    out.iterator
  }

  /** Document-count threshold of the one-task path. */
  private val MaxDocs = 100000L

  private def jacBp(inter: Long, s1: Long, s2: Long): Long =
    (inter * 10000L) / (s1 + s2 - inter) // floor div, operands ≥ 0

  /** q133 shape over checkpointed `docArr(doc_id, arr, sz)`:
    * (d1, d2, inter, sz1, sz2, jac_bp), d1 < d2, UNSORTED (caller
    * orders). None above the threshold. */
  def allPairs(docArr: DataFrame): Option[DataFrame] =
    LocalExact(docArr, StructType(Seq(
      StructField("d1", LongType), StructField("d2", LongType),
      StructField("inter", LongType), StructField("sz1", LongType),
      StructField("sz2", LongType), StructField("jac_bp", LongType))),
      MaxDocs) { it =>
      val docs = internDocs(it, baseAt = -1)
      verifiedPairs(docs, (a, b) => a.id < b.id).map { case (a, b, inter) =>
        Row(a.id, b.id, inter, a.sz, b.sz, jacBp(inter, a.sz, b.sz))
      }
    }

  /** q143 shape over checkpointed `docArr(doc_id, arr, sz)` — EXACT
    * asymmetric containment: ordered pairs (a, b), a ≠ b, with
    * 5·|A∩B| ≥ 4·|A|. One-sided prefix filter: a pair must share one
    * of A's ⌊|A|/5⌋+1 rarest shingles with B's FULL set, so the
    * candidate scan walks A's prefix against the full inverted
    * index. (d_a, d_b, inter, sz_a, sz_b, cont_bp), UNSORTED. */
  def containment(docArr: DataFrame): Option[DataFrame] =
    LocalExact(docArr, StructType(Seq(
      StructField("d_a", LongType), StructField("d_b", LongType),
      StructField("inter", LongType), StructField("sz_a", LongType),
      StructField("sz_b", LongType), StructField("cont_bp", LongType))),
      MaxDocs) { it =>
      val docs = internDocs(it, baseAt = -1, prefixDiv = 5)
      // identical-set groups (see groupBySet): candidacy, inter and
      // the one-sided threshold are all set-level facts, so probe and
      // verify once per group pair, then fan out ordered member pairs.
      // The index holds each rep's FULL set (the container side pays
      // nothing).
      val gx = new GroupIndex(docs, _.sorted)
      import gx.{groups, reps}
      val out = scala.collection.mutable.ArrayBuffer.empty[Row]
      def emitCross(g1: Array[Int], g2: Array[Int], inter: Long,
                    szA: Long, szB: Long): Unit = {
        var x = 0
        while (x < g1.length) {
          var y = 0
          while (y < g2.length) {
            val (p, q) = (g1(x), g2(y))
            if (p != q)
              out += Row(docs(p).id, docs(q).id, inter, szA, szB,
                (inter * 10000L) / szA)
            y += 1
          }
          x += 1
        }
      }
      // intra-group: identical nonempty sets contain each other
      // (inter = sz, 5·sz ≥ 4·sz), both orientations via p ≠ q
      groups.zipWithIndex.foreach { case (g, i0) =>
        if (g.length >= 2 && reps(i0).sorted.nonEmpty)
          emitCross(g, g, reps(i0).sz, reps(i0).sz, reps(i0).sz)
      }
      // cross-group: per contained-side group a, probe its prefix
      // against the full index (group-level stamp dedup)
      val lastSeen = Array.fill(groups.length)(-1)
      var a = 0
      while (a < groups.length) {
        val da = reps(a)
        da.prefix.foreach { w =>
          val bucket = gx.postings(w)
          var x = 0
          while (x < bucket.length) {
            val b = bucket(x)
            if (b != a && lastSeen(b) != a) {
              lastSeen(b) = a
              val inter = intersect(da.sorted, reps(b).sorted)
              if (5L * inter >= 4L * da.sz)
                emitCross(groups(a), groups(b), inter, da.sz, reps(b).sz)
            }
            x += 1
          }
        }
        a += 1
      }
      out.iterator
    }

  /** q165 shape over checkpointed `docArr(doc_id, arr, sz, base)`:
    * per incoming doc, its best base match (max jac_bp, tie min base
    * id) — (inc, base_id, jac_bp), UNSORTED. None above threshold. */
  def incremental(docArr: DataFrame): Option[DataFrame] =
    LocalExact(docArr, StructType(Seq(
      StructField("inc", LongType), StructField("base_id", LongType),
      StructField("jac_bp", LongType))), MaxDocs) { it =>
      val docs = internDocs(it, baseAt = 3)
      val best = new java.util.HashMap[Long, (Long, Long)]() // inc → (jac, bs)
      verifiedPairs(docs, (a, b) => !a.base && b.base).foreach {
        case (a, b, inter) =>
          val j = jacBp(inter, a.sz, b.sz)
          val cur = best.get(a.id)
          if (cur == null || j > cur._1 || (j == cur._1 && b.id < cur._2))
            best.put(a.id, (j, b.id))
      }
      val out = scala.collection.mutable.ArrayBuffer.empty[Row]
      best.forEach((inc, v) => out += Row(inc, v._2, v._1))
      out.iterator
    }
}
