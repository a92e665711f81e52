package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.model.{Checklist, FieldDef}
import graft.ops.Dedup
import graft.ops.Multimodal.Codec
import graft.quality.ConstraintDiscovery

/** Reference code the specs compare live operators against. */
object References {

  /** Exact n-gram Jaccard similarity for candidate pairs (`id_a`, `id_b`):
   * joins the pairs back to per-id shingle sets and computes
   * |A∩B| / |A∪B| with array ops, rounded to 6 places. */
  def ngramJaccard(pairs: DataFrame, df: DataFrame, idCol: String,
      textCol: String, k: Int = 3): DataFrame = {
    val sh = df.select(col(idCol).as("id"),
      Dedup.shingleHashes(col(textCol), k).as("sh"))
    val withA = pairs.join(sh.select(col("id").as("id_a"), col("sh").as("sh_a")), "id_a")
    val withB = withA.join(sh.select(col("id").as("id_b"), col("sh").as("sh_b")), "id_b")
    withB.withColumn("jaccard",
      round(size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
        size(array_union(col("sh_a"), col("sh_b"))), 6))
      .select(pairs.columns.map(col).toSeq :+ col("jaccard"): _*)
  }

  /** An RGB PNG of arbitrary pixels, given as 0xRRGGBB ints (the
   * [[graft.ops.PngDecode.RawImage]] layout): filter-0 scanlines through
   * the encoder's own zlib + chunk tail. */
  def encodePngPixels(width: Int, height: Int, rgb: Array[Int]): Array[Byte] = {
    require(rgb.length == width * height, "pixel array does not match dims")
    val stride = 1 + width * 3
    val raw = new Array[Byte](height * stride)
    for (y <- 0 until height; x <- 0 until width) {
      val v = rgb(y * width + x)
      val o = y * stride + 1 + x * 3
      raw(o) = ((v >> 16) & 0xff).toByte
      raw(o + 1) = ((v >> 8) & 0xff).toByte
      raw(o + 2) = (v & 0xff).toByte
    }
    Codec.wrapPng(width, height, colorType = 2, raw)
  }

  /** [[ConstraintDiscovery.inferFields]] as a runnable checklist, fields in
   * `df` column order. */
  def inferChecklist(df: DataFrame, name: String): Checklist =
    Checklist(name, ConstraintDiscovery.inferFields(df, enumMaxCard = 16)
      .map(f => FieldDef(f.name, f.ftype, required = f.required)))
}
