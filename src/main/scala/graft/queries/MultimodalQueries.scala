package graft.queries

import org.apache.spark.sql.functions._

import graft.Q
import graft.core.Tables
import graft.multimodal.Multimodal

/** Multimodal decode over REAL encoded payloads: each document carries an
  * actual P6 PPM (even doc_id) or 24-bit BMP (odd doc_id) synthesized from
  * md5-derived dims/pixels, and the queries round-trip through the pure-JVM
  * codec (multimodal/Multimodal.scala). The oracle recomputes the
  * generation rule symbolically — dims from the first two digest bytes,
  * raster = digest cycled from index 2 — so a decoder that misparses
  * headers, BMP bottom-up row order, or row padding hash-fails. */
object MultimodalQueries {

  /** 16 md5 digest bytes as a DuckDB BIGINT list CTE column. */
  private val bytesCte =
    """b AS (
      |  SELECT doc_id, text,
      |    list_transform(generate_series(0, 15),
      |      i -> ('0x' || substring(md5(text), 2 * i + 1, 2))::BIGINT) AS bytes
      |  FROM documents
      |), dims AS (
      |  SELECT doc_id, bytes,
      |    CAST(1 + bytes[1] % 8 AS INT) AS width,
      |    CAST(1 + bytes[2] % 8 AS INT) AS height,
      |    CAST(3 * (1 + bytes[1] % 8) * (1 + bytes[2] % 8) AS INT) AS n
      |  FROM b
      |)""".stripMargin

  /** Encoded size: PPM = "P6\n<w> <h>\n255\n" + raster; BMP = 54-byte
    * header + 4-byte-padded bottom-up rows. */
  private val nBytesSql =
    """CAST(CASE WHEN doc_id % 2 = 0
      |  THEN 9 + length(width::VARCHAR) + length(height::VARCHAR) + n
      |  ELSE 54 + height * (((3 * width + 3) // 4) * 4) END AS INT)""".stripMargin

  /** Decoded raster byte j (0-based) = digest byte (j+2) mod 16. */
  private def pxSql(j: String) = s"bytes[((($j) + 2) % 16) + 1]"

  val all: Seq[Q] = Seq(

    Q("multimodal_decode",
      s"""WITH $bytesCte
         |SELECT doc_id,
         |  $nBytesSql AS n_bytes,
         |  width, height, CAST(3 AS INT) AS channels,
         |  list_avg(list_transform(generate_series(0, n - 1),
         |    j -> ${pxSql("j")})) AS mean_byte
         |FROM dims""".stripMargin) { (s, dir) =>
      Multimodal.decodeDocuments(s, Tables.documents(s, dir))
        .toDF()
        .select("doc_id", "n_bytes", "width", "height", "channels", "mean_byte")
    },

    // Four-format dispatch over the SAME corpus: PPM / BMP / PNG / JPEG by
    // doc_id mod 4 (PNG/JPEG through the JDK's ImageIO — the formats a
    // real multimodal corpus contains). PNG is lossless so its decoded
    // mean matches the generation rule exactly; JPEG dims/channels are
    // exact but pixels are lossy — mean_byte is NULL in both engines for
    // that lane (pixel tolerance is gated in MultimodalSpec instead).
    Q("multimodal_decode_4fmt",
      s"""WITH $bytesCte
         |SELECT doc_id, CAST(doc_id % 4 AS INT) AS fmt,
         |  width, height, CAST(3 AS INT) AS channels,
         |  CASE WHEN doc_id % 4 = 3 THEN NULL
         |       ELSE list_avg(list_transform(generate_series(0, n - 1),
         |         j -> ${pxSql("j")})) END AS mean_byte
         |FROM dims""".stripMargin) { (s, dir) =>
      Multimodal.decodeDocuments(s, Tables.documents(s, dir), Multimodal.payloadFor4)
        .toDF()
        .select(col("doc_id"), (col("doc_id") % 4).cast("int").as("fmt"),
          col("width"), col("height"), col("channels"),
          when(col("doc_id") % 4 === 3, lit(null).cast("double"))
            .otherwise(col("mean_byte")).as("mean_byte"))
    },

    // Fixed-shape feature vectors + frame samples: binary-array plumbing.
    // The 8 feature lanes are projected to scalar columns (the gate can't
    // sort raw arrays); the oracle recomputes each lane from the DECODED
    // raster bytes in FLOAT arithmetic matching the kernel's float32 math.
    Q("multimodal_features", {
      val laneSql = (0 until Multimodal.FeatureDim).map { i =>
        s"CAST((${pxSql(s"$i % n")} + ${pxSql(s"($i * 3 + 1) % n")}) AS FLOAT)" +
          s" / CAST(510 AS FLOAT) AS feature_$i"
      }.mkString(",\n  ")
      s"""WITH $bytesCte
         |SELECT doc_id,
         |  $laneSql,
         |  CAST(($nBytesSql + 3) // 4 AS INT) AS n_frames
         |FROM dims""".stripMargin
    }) { (s, dir) =>
      val decoded = Multimodal.decodeDocuments(s, Tables.documents(s, dir)).toDF()
      val framed = Multimodal.withPayload(Tables.documents(s, dir))
        .select(col("doc_id"), Multimodal.frameSample(col("payload"), 4).as("frames"))
      val lanes = (0 until Multimodal.FeatureDim).map(i =>
        element_at(col("features"), i + 1).as(s"feature_$i"))
      decoded.join(framed, "doc_id")
        .select(Seq(col("doc_id")) ++ lanes ++ Seq(size(col("frames")).as("n_frames")): _*)
    })
}
