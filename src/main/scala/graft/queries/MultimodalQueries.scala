package graft.queries

import graft.operators.Multimodal
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal binary-column surface over synthetic assets (documents
  * bytes standing in for media blobs — no codec libs in this env).
  * Content addressing/pathing is oracle-checked; the stubbed decode +
  * embedding path is rows-only (Java-side deterministic fakes).
  */
object MultimodalQueries {

  val all: Seq[Q] = Seq(

    // S6/K5: content hash, byte stats, hashed object-store pathing.
    Q("q45_media_stats",
      (s, dir) => {
        val assets = Multimodal.syntheticAssets(s, dir).toDF()
        Multimodal.withContentStats(assets)
          .withColumn("storage_path", Multimodal.storagePath(
            col("client_id"), (col("asset_id") % 100).cast(StringType),
            col("content_hash")))
          .select(col("asset_id"), col("client_id"), col("media_type"),
            col("content_hash"), col("byte_size"), col("storage_path"))
          .orderBy(col("asset_id"))
      },
      Some("""SELECT doc_id AS asset_id,
             |  'client_' || CAST(doc_id % 5 AS VARCHAR) AS client_id,
             |  CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image'
             |    WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
             |  sha256(text) AS content_hash,
             |  CAST(strlen(text) AS INT) AS byte_size,
             |  'images/client_' || CAST(doc_id % 5 AS VARCHAR) || '/properties/' ||
             |    CAST(doc_id % 100 AS VARCHAR) || '/' || sha256(text) || '.webp' AS storage_path
             |FROM documents ORDER BY asset_id""".stripMargin)),

    // S5/F19 plumbing: partition-local decode + embedding extraction.
    // The stub codec is a pure function of the content bytes, so the
    // oracle joins a fixture re-derived independently in Python
    // (scripts/make_fixtures.py → fixtures/q46_meta.parquet), keyed by
    // content hash (scale-factor independent).
    Q("q46_media_decode",
      (s, dir) => {
        val assets = Multimodal.syntheticAssets(s, dir)
        val meta = Multimodal.decodeMeta(assets).toDF()
        val emb = Multimodal.extractEmbeddings(assets, dim = 16)
          .select(col("asset_id"),
            round(graft.functions.VectorFns.normSqScaled(col("embedding"))
              .cast(DoubleType) / 1e10, 4).as("embed_norm_sq"))
        meta.join(emb, "asset_id")
          .select(col("asset_id"), col("media_type"), col("byte_size"),
            col("width"), col("height"), col("n_frames"), col("format"),
            col("embed_norm_sq"))
          .orderBy(col("asset_id"))
      },
      Some(s"""SELECT d.doc_id AS asset_id,
             |  CASE CAST(d.doc_id % 3 AS INT) WHEN 0 THEN 'image'
             |    WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
             |  CAST(strlen(d.text) AS INT) AS byte_size,
             |  f.width, f.height,
             |  CASE WHEN CAST(d.doc_id % 3 AS INT) = 2 THEN f.n_frames
             |    ELSE 1 END AS n_frames,
             |  CASE CAST(d.doc_id % 3 AS INT) WHEN 0 THEN 'webp'
             |    WHEN 1 THEN 'pcm16' ELSE 'h264' END AS format,
             |  f.embed_norm_sq
             |FROM documents d
             |JOIN '${graft.util.RepoRoot.fixture("q46_meta.parquet")}' f
             |  ON sha256(d.text) = f.content_hash
             |ORDER BY asset_id""".stripMargin)),

    // Video frame sampling: every stride-th frame of each video asset
    // becomes a row (flatMap explode — the shape a real ffmpeg-backed
    // extractor produces; decode stubbed as fixed-size byte slices).
    // The oracle re-derives the frame plan arithmetic from the q46
    // fixture's n_frames (keyed by content hash, scale-independent)
    // and checks per-frame byte lengths.
    Q("q77_frame_sample",
      (s, dir) => {
        val assets = Multimodal.syntheticAssets(s, dir)
        Multimodal.sampleFrames(assets, stride = 2).toDF()
          .select(col("asset_id"), col("frame_no"),
            length(col("frame_bytes")).as("frame_len"))
          .orderBy(col("asset_id"), col("frame_no"))
      },
      Some(s"""WITH a AS (SELECT d.doc_id AS asset_id,
             |    CAST(strlen(d.text) AS BIGINT) AS len, f.n_frames
             |  FROM documents d
             |  JOIN '${graft.util.RepoRoot.fixture("q46_meta.parquet")}' f
             |    ON sha256(d.text) = f.content_hash
             |  WHERE CAST(d.doc_id % 3 AS INT) = 2),
             |fr AS (SELECT asset_id, len,
             |    unnest(range(0, CAST(n_frames AS BIGINT), 2)) AS frame_no,
             |    greatest(1, len // CAST(n_frames AS BIGINT)) AS chunk
             |  FROM a)
             |SELECT asset_id, CAST(frame_no AS INT) AS frame_no,
             |  CAST(greatest(0, least((frame_no + 1) * chunk, len) - frame_no * chunk) AS INT) AS frame_len
             |FROM fr ORDER BY asset_id, frame_no""".stripMargin)),

    // Perceptual image hash (64-bit dHash) over REAL PNG payloads —
    // javax.imageio decode, integer luma-gradient grid (operator doc
    // has the exact pipeline). The oracle is the fixture generator's
    // independent pure-Python computation from the SOURCE pixel
    // arrays (scripts/make_image_fixture.py): PNG is lossless, so
    // decode-then-hash must reproduce those values bit-for-bit.
    // Asset 12 is deliberately undecodable -> NULL.
    Q("q189_image_dhash",
      (s, dir) => graft.operators.ImageDedup.withDhash(
          graft.util.ParquetRead.read(s, graft.util.RepoRoot.fixture("image_assets.parquet")),
          "asset_id", "content")
        .orderBy(col("asset_id")),
      Some(s"""SELECT asset_id, dhash
             |FROM '${graft.util.RepoRoot.fixture("image_dhash_expected.parquet")}'
             |ORDER BY asset_id""".stripMargin)),

    // Image near-dup pairs: dHash + band-pigeonhole Hamming join
    // (Dedup.hammingPairs — 7 bands over 64 bits at maxHamming 6, so
    // every pair within the threshold shares an exact band; recall is
    // exact below the hot-bucket star cap). Catches what q21's
    // sha-256 exact dedup cannot: re-encodes (asset 3: same pixels,
    // different zlib level), global brightness shifts (asset 4), and
    // resizes (asset 6) all pair with the base image at hamming 0;
    // the locally-perturbed asset 5 pairs at hamming 2; the five
    // noise images pair with nothing. Oracle: brute-force all-pairs
    // xor/bit_count over the fixture's expected hashes.
    Q("q190_image_neardup",
      (s, dir) => graft.operators.ImageDedup.nearDupPairs(
          graft.util.ParquetRead.read(s, graft.util.RepoRoot.fixture("image_assets.parquet")),
          "asset_id", "content", maxHamming = 6)
        .orderBy(col("id_a"), col("id_b")),
      Some(s"""WITH e AS (SELECT asset_id, dhash
             |  FROM '${graft.util.RepoRoot.fixture("image_dhash_expected.parquet")}'
             |  WHERE dhash IS NOT NULL)
             |SELECT a.asset_id AS id_a, b.asset_id AS id_b,
             |  bit_count(xor(a.dhash, b.dhash)) AS hamming
             |FROM e a JOIN e b ON a.asset_id < b.asset_id
             |WHERE bit_count(xor(a.dhash, b.dhash)) <= 6
             |ORDER BY id_a, id_b""".stripMargin))
  )
}
