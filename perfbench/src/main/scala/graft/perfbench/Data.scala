package graft.perfbench

import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.api.Api._
import graft.cube.{EventCube, Geometry}

/** Seeded input generators. The program under test only ever sees what
  * these write; the same seed writes the same bytes. */
object Data {
  val Datasets: Vector[String] = Vector("click", "view", "purchase", "error")
  val EventTypes: Vector[String] = Datasets :+ "signup"
  val W: Int = EventCube.GridWidth
  val H: Int = Geometry.GridHeight

  /** The events table in the test corpus's schema: one January of
    * events over the 10×15 cell grid (user_id = cell), sorted by ts as
    * the corpus is, so band ranges prune row groups. */
  def writeEvents(spark: SparkSession, dir: String, seed: Long, n: Long): Unit = {
    val originUs = EventCube.OriginEpochSec * 1000000L
    val januaryUs = 31L * 86400L * 1000000L
    spark.range(0L, n, 1L, 4)
      .select(
        col("id").as("event_id"),
        timestamp_micros((lit(originUs) + floor(rand(seed) * januaryUs))
          .cast("long")).as("ts"),
        floor(rand(seed + 1) * (W * H)).cast("long").as("user_id"),
        element_at(array(EventTypes.map(lit): _*),
          (floor(rand(seed + 2) * EventTypes.size) + 1).cast("int"))
          .as("event_type"),
        round(-log(rand(seed + 3) + 1e-9) * 50, 2).as("value"),
        concat(lit("{\"k\": "), floor(rand(seed + 4) * 100).cast("string"),
          lit("}")).as("props"))
      .orderBy("ts", "event_id")
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
  }

  // The lake is shaped like the sf0.1 test corpus's documents table
  // (which a benchmark checkout does not hold): its 30-word vocabulary
  // drawn uniformly, 10-100 words a text, en 40% and zh/es/fr/de 15%
  // each, 20 sources, and 5% near-duplicates marked as the corpus
  // marks them, a copy of another doc with " dup" appended.
  private val Vocab: Vector[String] = Vector("spark", "window", "merge",
    "table", "column", "vector", "stream", "value", "data", "small", "join",
    "filter", "big", "group", "hash", "customer", "sort", "order", "slow",
    "line", "part", "fast", "row", "the", "agg", "key", "query", "a", "scan",
    "batch")
  private val Langs: Vector[String] =
    Vector.fill(8)("en") ++ Seq("zh", "es", "fr", "de").flatMap(Vector.fill(3)(_))

  def text(r: Random): String =
    Seq.fill(10 + r.nextInt(91))(Vocab(r.nextInt(Vocab.size))).mkString(" ")

  def nearDup(src: String): String = src + " dup"

  final case class Doc(doc_id: Long, text: String, lang: String,
      source: String, n_chars: Long)
  final case class Vec(vec_id: Long, embedding: Array[Float], label: Int)

  def doc(id: Long, t: String, r: Random): Doc =
    Doc(id, t, Langs(r.nextInt(Langs.size)), s"src${r.nextInt(20)}", t.length)

  /** Lake documents; about one in twenty is a near-duplicate of an
    * earlier one. */
  def docs(seed: Long, n: Int): Vector[Doc] = {
    val r = new Random(seed)
    val out = Vector.newBuilder[Doc]
    val texts = new Array[String](n)
    (0 until n).foreach { i =>
      texts(i) = if (i > 10 && r.nextInt(20) == 0) nearDup(texts(r.nextInt(i)))
                 else text(r)
      out += doc(i.toLong, texts(i), r)
    }
    out.result()
  }

  val Dim = 64
  val Labels = 10

  private def centers(seed: Long): Array[Array[Float]] = {
    val r = new Random(seed ^ 0x5eedL)
    Array.fill(Labels)(Array.fill(Dim)(r.nextGaussian().toFloat * 0.2f))
  }

  /** Unit-norm embeddings clustered around ten label centres, the
    * test corpus's shape (64 dims, labels 0-9). */
  def vecs(seed: Long, ids: Seq[Long]): Vector[Vec] = {
    val cs = centers(seed)
    val r = new Random(seed * 31 + ids.headOption.getOrElse(0L))
    ids.map { id =>
      val l = r.nextInt(Labels)
      val v = Array.tabulate(Dim)(d => cs(l)(d) + r.nextGaussian().toFloat * 0.05f)
      val norm = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
      Vec(id, v.map(_ / norm), l)
    }.toVector
  }

  def writeDocs(spark: SparkSession, dir: String, ds: Seq[Doc]): Unit = {
    import spark.implicits._
    ds.toDF().coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
  }

  def writeVecs(spark: SparkSession, dir: String, vs: Seq[Vec]): Unit = {
    import spark.implicits._
    vs.toDF().coalesce(1).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
  }

  def vecFrame(spark: SparkSession, vs: Seq[Vec]): DataFrame = {
    import spark.implicits._
    vs.toDF()
  }

  // --- areas ---------------------------------------------------------

  /** A valid simple ring inside the grid: a jittered convex polygon of
    * 3–6 vertices around a centre, at most `maxR` cells in radius. */
  def ring(r: Random, maxR: Double): Seq[(Double, Double)] = {
    val rad = 0.8 + r.nextDouble() * (maxR - 0.8)
    val cx = rad + 0.05 + r.nextDouble() * (W - 2 * rad - 0.1)
    val cy = rad + 0.05 + r.nextDouble() * (H - 2 * rad - 0.1)
    val k = 3 + r.nextInt(4)
    val pts = (0 until k).map { i =>
      val a = 2 * math.Pi * (i + 0.3 * r.nextDouble()) / k
      val rr = rad * (0.7 + 0.3 * r.nextDouble())
      (round3(cx + rr * math.cos(a)), round3(cy + rr * math.sin(a)))
    }
    pts :+ pts.head
  }

  /** A small square hole around the ring's centroid, inside it. */
  def hole(ring: Seq[(Double, Double)]): Seq[(Double, Double)] = {
    val pts = ring.init
    val cx = pts.map(_._1).sum / pts.size
    val cy = pts.map(_._2).sum / pts.size
    val h = 0.15
    Seq((cx - h, cy - h), (cx + h, cy - h), (cx + h, cy + h), (cx - h, cy + h),
      (cx - h, cy - h)).map { case (x, y) => (round3(x), round3(y)) }
  }

  private def round3(d: Double): Double = math.round(d * 1000) / 1000.0

  /** Areas in the serve mix: points 40%, boxes 20%, polygons 25% (a
    * third with a hole), FeatureCollections 15% — exact shares over
    * every 20 draws, so seeds differ only within each shape. */
  def areas(r: Random): Iterator[SelectedArea] =
    Iterator.continually(r.shuffle((0 until 20).toVector).map(area(r, _))).flatten

  def area(r: Random, k: Int, maxR: Double = 2.5): SelectedArea = k match {
    case k if k < 8 => PointArea(r.nextInt(W * H).toLong)
    case k if k < 12 =>
      val x0 = r.nextInt(W - 1); val y0 = r.nextInt(H - 1)
      BBoxArea(x0, math.min(W - 1, x0 + r.nextInt(4)), y0,
        math.min(H - 1, y0 + r.nextInt(4)))
    case k if k < 17 =>
      val rg = ring(r, maxR)
      PolygonArea(rg, if (r.nextInt(3) == 0) Seq(hole(rg)) else Nil)
    case _ =>
      FeatureCollectionArea(Seq.fill(2 + r.nextInt(2)) {
        val rg = ring(r, maxR * 0.6)
        PolygonArea(rg, if (r.nextInt(3) == 0) Seq(hole(rg)) else Nil)
      })
  }

  def cellsOf(a: SelectedArea): Int = a match {
    case PointArea(_) => 1
    case BBoxArea(x0, x1, y0, y1) => (x1 - x0 + 1) * (y1 - y0 + 1)
    case PolygonArea(rg, hs) => Geometry.GridPolygon(
      rg.map { case (x, y) => Geometry.Pt(x, y) },
      hs.map(_.map { case (x, y) => Geometry.Pt(x, y) })).coveredCells().size
    case FeatureCollectionArea(fs) => fs.map(cellsOf).sum
  }

  private def coords(rg: Seq[(Double, Double)]): String =
    rg.map { case (x, y) => s"[$x,$y]" }.mkString("[", ",", "]")

  private def polygonJson(p: PolygonArea): String =
    s"""{"type":"Polygon","coordinates":[${(p.ring +: p.holes).map(coords).mkString(",")}]}"""

  /** GeoJSON in grid coordinates, the RequestJson wire contract. Boxes
    * travel as rectangular Polygons. */
  def geoJson(a: SelectedArea): String = a match {
    case PointArea(c) => s"""{"type":"Point","coordinates":[${c % W + 0.5},${c / W + 0.5}]}"""
    case BBoxArea(x0, x1, y0, y1) => polygonJson(PolygonArea(Seq(
      (x0 + 0.1, y0 + 0.1), (x1 + 0.9, y0 + 0.1), (x1 + 0.9, y1 + 0.9),
      (x0 + 0.1, y1 + 0.9), (x0 + 0.1, y0 + 0.1))))
    case p: PolygonArea => polygonJson(p)
    case FeatureCollectionArea(fs) =>
      fs.map(f => s"""{"type":"Feature","properties":{},"geometry":${polygonJson(f)}}""")
        .mkString("""{"type":"FeatureCollection","features":[""", ",", "]}")
  }

  // --- transforms and smoothers ---------------------------------------

  def transform(r: Random): Transform = r.nextInt(3) match {
    case 0 => NoTransform
    case 1 => ZScoreMovingInterval(3 + r.nextInt(5))
    case _ => ZScoreFixedInterval(None)
  }

  def smoother(r: Random): Smoother = r.nextInt(3) match {
    case 0 => NoSmoother
    case 1 => MovingAverageSmoother(centered = true, 3 + 2 * r.nextInt(2))
    case _ => MovingAverageSmoother(centered = false, 2 + r.nextInt(4))
  }

  def transformJson(t: Transform): String = t match {
    case NoTransform => """{"type":"NoTransform"}"""
    case ZScoreMovingInterval(w) => s"""{"type":"ZScoreMovingInterval","width":$w}"""
    case ZScoreFixedInterval(_) => """{"type":"ZScoreFixedInterval"}"""
  }

  def smootherJson(s: Smoother): String = s match {
    case NoSmoother => """{"type":"NoSmoother"}"""
    case MovingAverageSmoother(c, w) =>
      s"""{"type":"MovingAverageSmoother","method":"${if (c) "centered" else "trailing"}","width":$w}"""
  }
}
