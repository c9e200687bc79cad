package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Perceptual image near-dup: 64-bit difference hash (dHash — the
  * classic gradient perceptual hash, as popularized in public work on
  * image fingerprinting) over decoded pixels, then the engine's
  * band-pigeonhole Hamming join. This is the image-content analogue
  * of the text near-dup family: q21's sha-256 exact dedup misses
  * re-encodes (same pixels, different bytes), global brightness
  * shifts, and resizes — all three hash to the SAME dHash here,
  * because the hash is built from luma gradients on a normalized
  * grid, not from bytes.
  *
  * Integer-exact pipeline (so an independent fixture implementation
  * reproduces it bit-for-bit — fixtures/image_dhash_expected.parquet
  * is computed from the source pixel arrays in pure Python, and PNG
  * is lossless so both sides see identical RGB):
  *   luma  = (299·r + 587·g + 114·b) div 1000          per pixel
  *   grid  = 8 rows × 9 cols box averages; cell (cx, cy) covers
  *           x ∈ [cx·W div 9, (cx+1)·W div 9) × the y analogue,
  *           avg = sum(luma) div count
  *   bit b = cy·8 + cx set iff grid(cy)(cx) > grid(cy)(cx+1)
  *
  * Scale shape: the decode is embarrassingly parallel (repartition
  * first so file layout doesn't bound the CPU-heavy step) and emits
  * ONE long per image — the corpus-sized binary column never crosses
  * a shuffle. The pair join is [[Dedup.hammingPairs]]: maxHamming+1
  * bands over the 64 bits, bucket equi-join, star-capped hot buckets
  * (DedupSkewSpec's guarantee) — every pair within the threshold
  * shares at least one exact band by pigeonhole, so recall is exact
  * below the cap. Undecodable payloads hash to NULL and never pair.
  *
  * Reference surface: image ingest/GC at corpus scale
  * (src/ETL_IMAGES/image_loader.py:76,
  * image_garbage_collector.py:46) stores by content sha-256 —
  * content-identity only; near-identity needs this operator.
  */
object ImageDedup {

  /** 64-bit dHash of one image payload; None when the bytes don't
    * decode (or the image is smaller than the 9×8 grid).
    *
    * Pixel contract: the hash is defined over `getRGB`'s sRGB view of
    * the decoded image — for truecolor sources that is the raw pixel
    * data (what the fixture pins bit-for-bit); for grayscale/ICC
    * sources the JDK applies its color-space conversion first, which
    * is deterministic for a given payload across JVMs but is NOT the
    * identity mapping an independent reimplementation might assume —
    * pin any new fixture image type against this implementation. */
  def dhash(content: Array[Byte]): Option[Long] = {
    val img =
      try Option(javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(content)))
      catch { case scala.util.control.NonFatal(_) => None }
    img.flatMap { src =>
      val w = src.getWidth
      val h = src.getHeight
      if (w < 9 || h < 8) None
      else {
        val grid = Array.ofDim[Long](8, 9)
        var cy = 0
        while (cy < 8) {
          val y0 = cy * h / 8
          val y1 = (cy + 1) * h / 8
          var cx = 0
          while (cx < 9) {
            val x0 = cx * w / 9
            val x1 = (cx + 1) * w / 9
            var sum = 0L
            var y = y0
            while (y < y1) {
              var x = x0
              while (x < x1) {
                val rgb = src.getRGB(x, y) // sRGB, alpha ignored
                val r = (rgb >> 16) & 0xff
                val g = (rgb >> 8) & 0xff
                val b = rgb & 0xff
                sum += (299L * r + 587L * g + 114L * b) / 1000L
                x += 1
              }
              y += 1
            }
            grid(cy)(cx) = sum / ((y1 - y0).toLong * (x1 - x0).toLong)
            cx += 1
          }
          cy += 1
        }
        var bits = 0L
        var b = 0
        while (b < 64) {
          if (grid(b / 8)(b % 8) > grid(b / 8)(b % 8 + 1)) bits |= 1L << b
          b += 1
        }
        Some(bits)
      }
    }
  }

  /** (idCol, dhash) per asset — dhash NULL for undecodable payloads.
    * The decode runs as a typed mapPartitions (an image codec cannot
    * be a codegen expression); repartition first so the input file
    * layout doesn't bound the CPU-heavy step. */
  def withDhash(assets: DataFrame, idCol: String,
                contentCol: String): DataFrame = {
    val spark = assets.sparkSession
    import spark.implicits._
    val par = spark.sparkContext.defaultParallelism
    assets
      .select(col(idCol).cast(LongType), col(contentCol))
      .repartition(par)
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) => (id, dhash(bytes)) })
      .toDF(idCol, "dhash")
  }

  /** Near-dup image pairs: (id_a, id_b, hamming) with hamming ≤
    * `maxHamming`, exact recall below the hot-bucket star cap. */
  def nearDupPairs(assets: DataFrame, idCol: String, contentCol: String,
                   maxHamming: Int = 6, maxBucket: Int = 1000): DataFrame = {
    val fps = withDhash(assets, idCol, contentCol)
      .filter(col("dhash").isNotNull)
      .select(col(idCol).as("id"), col("dhash").as("simhash"))
    Dedup.hammingPairs(fps, bits = 64, maxHamming = maxHamming,
      maxBucket = maxBucket)
  }
}
