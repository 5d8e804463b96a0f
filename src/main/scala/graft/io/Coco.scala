package graft.io

import com.fasterxml.jackson.databind.ObjectMapper
import graft.model.{CocoAnnotation, CocoCategory, CocoImage}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.jdk.CollectionConverters._

/** COCO dataset codecs (SURVEY.md S1/S2).
  *
  * Read: `spark.read.option("multiLine", true).json` with an explicit schema
  * + explode into typed Datasets — schema-on-read happens only at this
  * boundary (§1.5). Both segmentation spellings parse: the reference's flat
  * `[x1,y1,…]` (coco.py:258) and the COCO-standard list-of-lists that the
  * batch concatenator normalizes to (batch_geojson2coco.py:436-441).
  *
  * Envelope: `license`/`licenses`/`info` (and any other non-entity key) are
  * carried VERBATIM as raw JSON in `CocoTables.extras` and re-emitted at
  * write — the reference writes an MIT-default license object
  * (scripts/geojson2coco.py:222-234) and carries licenses/info through
  * concat (batch_geojson2coco.py:464-476); dropping them would corrupt a
  * round-trip of any real COCO file.
  *
  * Write: entity rows are rendered distributed via `to_json(struct(...))`;
  * the single-document envelope (reference `coco_json.toJSON`, coco.py:32-37)
  * is assembled on the driver, the reference's one-file contract. */
object Coco {

  /** The reference's default license (scripts/geojson2coco.py:224-228). */
  val DefaultLicenseJson: String =
    """{"url":"http://creativecommons.org/licenses/by-nc-sa/2.0/","id":1,"name":"Attribution-NonCommercial-ShareAlike License"}"""

  case class CocoTables(images: Dataset[CocoImage], annotations: Dataset[CocoAnnotation],
      categories: Dataset[CocoCategory],
      /** Raw-JSON envelope extras keyed by top-level name (license,
        * licenses, info, …) — everything except images/annotations/
        * categories/type, re-emitted verbatim at write. */
      extras: Map[String, String] = Map.empty)

  private def annSchema(seg: DataType) = ArrayType(StructType(Seq(
    StructField("id", LongType), StructField("image_id", LongType),
    StructField("category_id", IntegerType),
    StructField("segmentation", seg),
    StructField("bbox", ArrayType(DoubleType)),
    StructField("area", DoubleType), StructField("iscrowd", IntegerType))))

  private val flatSeg = ArrayType(DoubleType)
  private val nestedSeg = ArrayType(ArrayType(DoubleType))

  private def schemaWith(seg: DataType): StructType = StructType(Seq(
    StructField("images", ArrayType(StructType(Seq(
      StructField("id", LongType), StructField("file_name", StringType),
      StructField("height", IntegerType), StructField("width", IntegerType),
      StructField("license", IntegerType))))),
    StructField("annotations", annSchema(seg)),
    StructField("categories", ArrayType(StructType(Seq(
      StructField("id", IntegerType), StructField("name", StringType),
      StructField("supercategory", StringType))))),
    StructField("type", StringType)))

  val cocoSchema: StructType = schemaWith(flatSeg)
  val cocoSchemaNested: StructType = schemaWith(nestedSeg)
  /** Read-side schema: segmentation captured as its raw JSON text so each
    * annotation decides its own spelling (flat / nested / RLE / absent). */
  private val cocoSchemaRawSeg: StructType = schemaWith(StringType)

  def read(spark: SparkSession, path: String): CocoTables = {
    import spark.implicits._
    val raw = spark.read.option("multiLine", true).schema(cocoSchemaRawSeg).json(path)
    val images = raw.select(explode(col("images")).as("i"))
      .select(col("i.id"), col("i.file_name").as("fileName"), col("i.height"),
        col("i.width"), coalesce(col("i.license"), lit(1)).as("license"))
      .as[CocoImage]
    // Per-ANNOTATION segmentation spelling: real COCO files mix flat
    // [x1,y1,…] rows (reference coco.py:258) with list-of-lists rows
    // (COCO standard / batch-concat) and RLE objects or nulls (iscrowd=1)
    // in ONE file. A per-file schema fallback would mis-parse the
    // majority spelling whenever any row deviates, so each row parses
    // under both array schemas and keeps whichever succeeds; RLE/absent
    // stay null (the engine's canonical in-memory layout is flat, §1.1).
    val segRaw = col("a.segmentation")
    val seg = coalesce(
      from_json(segRaw, flatSeg),
      flatten(from_json(segRaw, nestedSeg)))
    val anns = raw.select(explode(col("annotations")).as("a"))
      .select(col("a.id"), col("a.image_id").as("imageId"),
        col("a.category_id").as("categoryId"), seg.as("segmentation"),
        col("a.bbox"), col("a.area"), coalesce(col("a.iscrowd"), lit(0)).as("iscrowd"))
      .as[CocoAnnotation]
    val cats = raw.select(explode(col("categories")).as("c"))
      .select(col("c.id"), col("c.name"), col("c.supercategory"))
      .as[CocoCategory]
    CocoTables(images, anns, cats, readExtras(spark, path))
  }

  /** Envelope extras from the (single-document contract) first file. */
  private def readExtras(spark: SparkSession, path: String): Map[String, String] = {
    import spark.implicits._
    val known = Set("images", "annotations", "categories", "type")
    val first = spark.read.option("wholetext", true).text(path)
      .select(input_file_name().as("p"), col("value")).as[(String, String)]
      .collect().sortBy(_._1).headOption.map(_._2)
    first match {
      case None => Map.empty
      case Some(text) =>
        val mapper = new ObjectMapper()
        val root = mapper.readTree(text)
        root.properties().asScala
          .filterNot(e => known.contains(e.getKey))
          .map(e => e.getKey -> mapper.writeValueAsString(e.getValue))
          .toMap
    }
  }

  private def imageJson(images: Dataset[CocoImage]): Dataset[String] = {
    import images.sparkSession.implicits._
    images.orderBy("id").select(to_json(struct(
      col("license"), col("fileName").as("file_name"), col("height"),
      col("width"), col("id")))).as[String]
  }

  private def annotationJson(anns: Dataset[CocoAnnotation],
                             nestedSegmentation: Boolean): Dataset[String] = {
    import anns.sparkSession.implicits._
    // batch_geojson2coco.py:436-441: standard COCO consumers expect a
    // list-of-lists polygon — wrap the flat ring when requested
    val seg = if (nestedSegmentation) array(col("segmentation")).as("segmentation")
      else col("segmentation")
    anns.orderBy("id").select(to_json(struct(
      seg, col("area"), col("iscrowd"),
      col("imageId").as("image_id"), col("bbox"),
      col("categoryId").as("category_id"), col("id")))).as[String]
  }

  private def categoryJson(cats: Dataset[CocoCategory]): Dataset[String] = {
    import cats.sparkSession.implicits._
    cats.orderBy("id").select(to_json(struct(
      col("supercategory"), col("id"), col("name")))).as[String]
  }

  /** Single-document COCO JSON string (envelope keys per COCO_validator.py:
    * images, type, annotations, categories — plus carried extras). */
  def toJsonDocument(t: CocoTables, nestedSegmentation: Boolean = false): String = {
    val img = imageJson(t.images).collect().mkString(",")
    val ann = annotationJson(t.annotations, nestedSegmentation).collect().mkString(",")
    val cat = categoryJson(t.categories).collect().mkString(",")
    val extras = t.extras.toSeq.sortBy(_._1)
      .map { case (k, v) => s""","$k":$v""" }.mkString
    s"""{"images":[$img],"type":"instances","annotations":[$ann],"categories":[$cat]$extras}"""
  }

  def write(t: CocoTables, path: String, nestedSegmentation: Boolean = false): Unit = {
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path),
      toJsonDocument(t, nestedSegmentation))
  }
}
