package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Identical-key duplicate-group collapse — the one gate, grouping and
  * pair expansion behind every pairing dedup operator: the MinHash
  * family ([[Dedup.minhashCandidates]],
  * [[Dedup.minhashCandidatesFromShingles]], [[Dedup.lshVerified]]),
  * the band-pigeonhole Hamming join ([[Dedup.hammingPairs]]),
  * [[EmbeddingDedup]], and the exact prefix-filter joins
  * (q133/q143/q165).
  *
  * Why: on a mass-duplicate corpus (the replicated scale fixtures are
  * the adversarial case) every member of a duplicate group carries the
  * same key — text, shingle set, fingerprint or vector — so it lands
  * in the same buckets as its twins. Candidate volume grows dup², and
  * in the star-capped banded plans the duplication alone pushes a
  * bucket past `maxBucket` and truncates recall exactly where dedup
  * matters most (the 30× sweep filled ~78 GB of spill on q133 alone
  * before this). Collapsing to one min-id REPRESENTATIVE per distinct
  * key makes candidate volume independent of the duplication factor.
  *
  * Exactness: identical keys ⇒ identical signatures, buckets and
  * similarities, so every pair payload computed at the representative
  * level holds for every member pair; expansion is pure output. The
  * cap re-applies at the GROUP level ([[Groups.fanOutPairs]],
  * [[Groups.withinGroupPairs]]): a group of m ≤ maxBucket members
  * expands exactly, an over-cap group keeps the linear hub-star shape
  * internally and fans out by hub only, so one viral duplicate never
  * emits O(m²) rows. Pinned against brute force by SetGroupsSpec,
  * DedupSkewSpec and DedupCollapseSpec.
  *
  * Gate: one aggregate, `count − countDistinct(xxhash64(keys))` =
  * duplicate EXTRAS. The hash count never exceeds the true distinct
  * count, so real duplication always registers; a 64-bit collision
  * can only turn the collapse on spuriously (exact either way — the
  * GROUPING key is the actual value). THRESHOLD: collapse only when
  * the extras reach `max(1, maxBucket / 2)`
  * (`spark.graft.dupCollapseMinExtras` overrides; 1 restores the
  * "any duplicate" gate for specs). Both plans equal the unguarded
  * oracle whenever no bucket overflows the cap, and duplication adds
  * at most `extras` members to any one bucket, so below the threshold
  * it cannot push a half-empty bucket over the cap — the residual
  * risk (a NATURALLY near-cap bucket tipped over by a few duplicates)
  * is the recall trade the cap already makes on duplicate-free
  * corpora ([[Dedup.minhashCandidates]]). The prefix-filter family is
  * exact at any duplication (no cap), so for it the threshold is a
  * pure work trade. Below it the collapse machinery (wide-key
  * groupBy + checkpoint + fan-out joins ≈ 6 extra AQE job rounds,
  * +0.7 s per query at sf0.1 for 8 duplicate rows in 5,000) is
  * skipped; at any real replication factor (ScaleTrial 10×/30×, the
  * 5× spec fixtures) extras ≫ threshold.
  *
  * Caveat at scale: `collect_list` puts a group's member ids on one
  * row — fine for any real duplication factor; the hub-only fan-out
  * bounds pair EXPANSION for viral groups, but a ~10⁸-member group
  * would need a join-based membership relation instead.
  */
object SetGroups {

  /** The collapsed relation: one row per distinct key holding the key
    * columns, the min-id representative under `idCol`, the member
    * count `_m`, and the member ids `_mm` (representative included). */
  final case class Groups(frame: DataFrame, idCol: String,
                          keyCols: Seq[String]) {

    /** One representative per distinct key, in the input's column
      * layout (`idCol` then the keys), so a caller's pipeline runs
      * over it unchanged. */
    def reps: DataFrame = frame.select(col(idCol) +: keyCols.map(col): _*)

    /** Full (rep, id) membership, rep included as its own member. */
    def members: DataFrame =
      frame.select(col(idCol).as("rep"), explode(col("_mm")).as("id"))

    /** Expand rep-level pairs (`id_a`, `id_b` are representatives) to
      * member pairs: full membership for groups at/under `maxBucket`,
      * hub-only above it (a viral group's cross edges stay linear).
      * `payload` columns must be symmetric in a/b, since members are
      * reordered by id. */
    def fanOutPairs(repPairs: DataFrame, maxBucket: Int,
                    payload: Seq[String]): DataFrame = {
      val xm = frame.select(col(idCol).as("_rep"), col("_m"),
          explode(col("_mm")).as("_mid"))
        .filter(col("_m") <= maxBucket || col("_mid") === col("_rep"))
        .select(col("_rep"), col("_mid"))
      repPairs
        .join(xm.select(col("_rep").as("id_a"), col("_mid").as("_xa")), "id_a")
        .join(xm.select(col("_rep").as("id_b"), col("_mid").as("_xb")), "id_b")
        .select(least(col("_xa"), col("_xb")).as("id_a") +:
          greatest(col("_xa"), col("_xb")).as("id_b") +:
          payload.map(col): _*)
    }

    /** Internal pairs of each duplicate group (the uncollapsed plan
      * emits them through their shared buckets): full m²/2 under the
      * cap, hub star above it. `keep` is evaluated on the group row and
      * drops groups the uncollapsed plan pairs nowhere (an empty
      * shingle set has no signature; a zero-norm vector has a null
      * cosine). `carry` columns are evaluated on the GROUP row (e.g.
      * est 1.0, inter = set size). */
    def withinGroupPairs(keep: Column, maxBucket: Int,
                         carry: Seq[(String, Column)]): DataFrame = {
      val cs = carry.map { case (n, _) => col(n) }
      val ne = frame.filter(col("_m") > 1 && keep)
        .select(col(idCol) +: col("_m") +: col("_mm") +:
          carry.map { case (n, c) => c.as(n) }: _*)
      val small = ne.filter(col("_m") <= maxBucket)
        .select(cs :+ explode(col("_mm")).as("_a") :+ col("_mm"): _*)
        .select(cs :+ col("_a") :+ explode(col("_mm")).as("_b"): _*)
        .filter(col("_a") < col("_b"))
      val star = ne.filter(col("_m") > maxBucket)
        .select(cs :+ col(idCol).as("_a") :+ explode(col("_mm")).as("_b"): _*)
        .filter(col("_a") < col("_b")) // hub IS the group min id
      small.unionByName(star)
        .select(col("_a").as("id_a") +: col("_b").as("id_b") +: cs: _*)
    }
  }

  /** Group `docs` by identical `keyCols`, or None when the duplicate
    * extras stay under the threshold (see the object scaladoc). EAGER
    * checkpoint: the representatives feed the whole candidate pipeline
    * while the member lists feed the fan-out joins — concurrent
    * consumers would race a lazy one. */
  def collapse(docs: DataFrame, idCol: String, keyCols: Seq[String],
               maxBucket: Int): Option[Groups] = {
    val key = keyCols.map(col)
    val st = docs.agg(count(lit(1)), countDistinct(xxhash64(key: _*))).head()
    val minExtras = docs.sparkSession.conf
      .getOption("spark.graft.dupCollapseMinExtras")
      .map(_.toLong).getOrElse(math.max(1L, maxBucket / 2L))
    if (st.getLong(0) - st.getLong(1) < minExtras) None
    else Some(Groups(docs.groupBy(key: _*)
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("_m"),
        collect_list(col(idCol)).as("_mm"))
      .localCheckpoint(), idCol, keyCols))
  }
}
