package graft.ops

import org.apache.spark.TaskContext
import org.apache.spark.sql.DataFrame
import java.awt.image.BufferedImage
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import javax.imageio.ImageIO
import javax.imageio.stream.{MemoryCacheImageInputStream, MemoryCacheImageOutputStream}

/** One decoded-image feature row (q33). `mean_luma` is exact: the
  * synthetic images are uniform-gray, so the pixel sum divides evenly.
  */
final case class ImageFeat(doc_id: Long, media_type: String, width: Int,
    height: Int, n_px: Long, mean_luma: Long)

/** REAL multimodal decode (closes the round-2 sanctioned stub): images
  * ride as opaque `binary` payload columns and are decoded on executors
  * with the JDK's built-in PNG codec (`javax.imageio` — no external
  * jars). The pipeline shape is the 100 TB one: per-partition batches,
  * no driver traffic, no shuffle.
  *
  * The synthetic PNGs are deterministic functions of `doc_id`
  * (dimensions and fill gray derived arithmetically), so the DECODED
  * width/height/mean are DuckDB-checkable: the oracle predicts them from
  * the construction formula while Spark measures them from the decoded
  * raster — a true encode→decode round-trip check, not a formula echo.
  *
  * Per-task cost notes (optimization round 6): the PNG writer/reader are
  * acquired from the ImageIO registry ONCE per task and reused across
  * rows (`ImageIO.write`/`read` re-scan the plugin registry per call),
  * streams are memory-cached (the default `FileCache*ImageStream`
  * creates and deletes a temp FILE on disk per call — two disk files
  * per row), and synthesize→decode runs fused in one `mapPartitions`
  * so the payload bytes cross zero Dataset-encoder boundaries.
  */
object ImageOps {

  /** Shared per-task codec state: a reusable PNG writer/reader pair. */
  private final class PngCodec {
    val writer = ImageIO.getImageWritersByFormatName("png").next()
    val reader = ImageIO.getImageReadersByFormatName("png").next()
    val bos = new ByteArrayOutputStream(1024)

    def encode(img: BufferedImage): Array[Byte] = {
      bos.reset()
      val out = new MemoryCacheImageOutputStream(bos)
      writer.setOutput(out)
      writer.write(img)
      out.close() // flushes into bos; bos itself stays open for reuse
      bos.toByteArray
    }

    def decode(bytes: Array[Byte]): BufferedImage = {
      val in = new MemoryCacheImageInputStream(new ByteArrayInputStream(bytes))
      reader.setInput(in)
      val img = reader.read(0)
      in.close()
      img
    }

    def dispose(): Unit = { writer.dispose(); reader.dispose() }
  }

  /** A codec for the current task, disposed when the task completes. */
  private def taskCodec(): PngCodec = {
    val codec = new PngCodec
    TaskContext.get().addTaskCompletionListener[Unit](_ => codec.dispose())
    codec
  }

  /** width 2..17, height 2..9, uniform gray fill `doc_id % 256`. */
  private def synthImage(docId: Long): BufferedImage = {
    val w = (2 + (docId % 16)).toInt
    val h = (2 + ((docId / 16) % 8)).toInt
    val g = (docId % 256).toInt
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    val rgb = (g << 16) | (g << 8) | g
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) { img.setRGB(x, y, rgb); x += 1 }
      y += 1
    }
    img
  }

  def synthPng(docId: Long): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    ImageIO.write(synthImage(docId), "png", bos)
    bos.toByteArray
  }

  /** Measure features from a decoded raster. */
  private def measure(id: Long, img: BufferedImage): ImageFeat = {
    val w = img.getWidth
    val h = img.getHeight
    val raster = img.getRaster
    var sum = 0L
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) { sum += raster.getSample(x, y, 0); x += 1 }
      y += 1
    }
    val n = w.toLong * h
    ImageFeat(id, "image/png", w, h, n, sum / n)
  }

  /** (doc_id, payload, media_type) — the opaque-binary carrier schema. */
  def synthesizePayloads(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select("doc_id").as[Long]
      .mapPartitions { it =>
        val codec = taskCodec()
        it.map(id => (id, codec.encode(synthImage(id)), "image/png"))
      }
      .toDF("doc_id", "payload", "media_type")
  }

  /** Decode each payload and measure features from the raster. */
  def decodeFeatures(payloads: DataFrame): DataFrame = {
    val spark = payloads.sparkSession
    import spark.implicits._
    payloads.select("doc_id", "payload").as[(Long, Array[Byte])]
      .mapPartitions { it =>
        val codec = taskCodec()
        it.map { case (id, bytes) => measure(id, codec.decode(bytes)) }
      }
      .toDF()
  }

  /** q33: synthesize → PNG-encode → PNG-decode → measure, fused in one
    * per-partition pass (the payload bytes never cross an encoder
    * boundary; the round trip through the real codec is unchanged).
    */
  def imageFeatures(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select("doc_id").as[Long]
      .mapPartitions { it =>
        val codec = taskCodec()
        it.map { id =>
          measure(id, codec.decode(codec.encode(synthImage(id))))
        }
      }
      .toDF()
  }
}
