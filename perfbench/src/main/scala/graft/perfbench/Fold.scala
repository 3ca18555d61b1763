package graft.perfbench

import java.io.File

import scala.collection.mutable.ArrayBuffer
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.pipeline.{ArtifactCache, Maintenance, Similarity, TrainingPrep}

/** `fold`: one caller cycling writes beside reads on the persisted
  * index layer of a private lake: a ~1% batch of novel docs through
  * curateBatch (a seeded share near-duplicates of lake content), a
  * vector batch through appendAnnToIndex, a takedown of a few ids, and
  * reads (annSearch plus a persisted-index query). One cycle takes most
  * of a run, so compactAll runs once, after the run's last cycle. */
final class Fold extends Workload {
  import Fold._

  def prepare(ctx: Ctx): Unit = {
    lakeDocs = Data.docs(ctx.seed, Docs)
    lakeVecs = Data.vecs(ctx.seed, 0L until Vecs.toLong)
  }

  private var lake: String = _
  private var lakeDocs: Vector[Data.Doc] = Vector.empty
  private var lakeVecs: Vector[Data.Vec] = Vector.empty
  private var inputMb = 0.0
  // lake docs the latest index read returned: the next takedown's pick
  private var candidates: Seq[Long] = Nil

  def setup(ctx: Ctx): Unit = {
    // a lake path private to the run: every index table is keyed by
    // it, so the set-up builds all of them cold
    lake = ctx.dir("lake")
    Data.writeDocs(ctx.spark, lake, lakeDocs)
    Data.writeVecs(ctx.spark, lake, lakeVecs)
    inputMb = dirMb(new File(lake))
    val r = new Random(ctx.seed + 1000)
    // set-up phases to stderr: which cold build the set-up time goes to
    var t = System.nanoTime()
    def lap(what: String): Unit = {
      val n = System.nanoTime()
      System.err.println(f"[perfbench] fold set-up: $what ${(n - t) / 1e9}%.2f s")
      t = n
    }
    curate(ctx.spark, docBatch(r, -1))
    lap("curateBatch")
    Similarity.appendAnnToIndex(ctx.spark, lake,
      Similarity.normedOfBatch(Data.vecFrame(ctx.spark, vecBatch(ctx.seed, -1))), AnnKind)
    lap("appendAnnToIndex")
    candidates = IndexReads.flatMap(q => docIds(SparkEntry.queries(q)(ctx.spark, lake)))
    lap("index reads")
  }

  def run(ctx: Ctx): (Seq[Metric], Seq[Metric]) = {
    val spark = ctx.spark
    val r = new Random(ctx.seed)
    val ms = scala.collection.mutable.Map.empty[String, ArrayBuffer[Double]]
    def timed[A](kind: String)(f: => A): Option[A] = {
      ctx.trace.newOp()
      val t0 = System.nanoTime()
      val out = ctx.op(s"fold: $kind")(ctx.trace.span(kind, withCounters = ctx.trace.on)(f))
      ms.getOrElseUpdate(kind, ArrayBuffer.empty) += (System.nanoTime() - t0) / 1e6
      out
    }
    val removedDocs = scala.collection.mutable.Set.empty[Long]
    val removedVecs = scala.collection.mutable.Set.empty[Long]
    val digests = ArrayBuffer.empty[String]
    val filesAfter = ArrayBuffer.empty[Double]
    val bytesWritten = ArrayBuffer.empty[Double]
    var dupFlagged = 0L
    var folded = 0L
    var lastBatch: Seq[Data.Doc] = Nil
    // ANN reads come between the writes, spread over the run, so a
    // burst of load on the machine moves few of them; nothing taken down
    // may appear in any
    var searches = 0L
    def annRead(probes: Seq[Data.Vec]): Unit = timed("pipeline.ann_search") {
      val hits = Similarity.annSearch(spark, lake, Data.vecFrame(spark, probes), AnnKind)
        .select("vec_id").collect().map(_.getLong(0))
      ctx.check(hits.nonEmpty && !hits.exists(removedVecs),
        "fold: annSearch returned a taken-down vector")
    }
    def freshProbes(): Seq[Data.Vec] = {
      searches += 1
      Data.vecs(ctx.seed + 99, (0L until 2L).map(QueryIdBase + searches * 2 + _))
    }
    // taken-down vectors as probes (under fresh ids): each would
    // otherwise be its own nearest neighbour
    def removedProbes(vs: Seq[Data.Vec]): Seq[Data.Vec] =
      vs.map(v => v.copy(vec_id = v.vec_id + QueryIdBase))
    val vecsRemoved = ArrayBuffer.empty[Data.Vec]
    val c0 = ctx.trace.snap()
    val end = System.nanoTime() + ctx.seconds * 1000000000L
    var cycle = 0
    var lastCycleNs = 0L
    // a cycle starts only if one as long as the last still fits, so
    // every run on a box completes the same number of cycles
    while (System.nanoTime() + lastCycleNs < end) {
      val cycle0 = System.nanoTime()
      val idx0 = dirStats(indexRoot)
      val batch = docBatch(r, cycle)
      val vecs = vecBatch(ctx.seed, cycle)
      timed("pipeline.curate_batch") {
        val out = curate(spark, batch)
        // one row per scorable (>= 2 tokens) batch doc, and every
        // generated doc has at least 10 words; a near-duplicate of lake
        // content must come back flagged
        val got = out.map(_.getAs[Long]("doc_id")).sorted
        val nearDups = batch.take(DupDocs).map(_.doc_id).toSet
        val unflagged = out.filter(o => nearDups(o.getAs[Long]("doc_id")) && !o.getAs[Boolean]("is_dup"))
        ctx.check(got == batch.map(_.doc_id).sorted && unflagged.isEmpty,
          s"fold: curateBatch returned ${got.size} rows for ${batch.size} scorable batch docs, " +
            s"${unflagged.size} near-duplicates not flagged")
        dupFlagged += out.count(_.getAs[Boolean]("is_dup"))
        digests += digest(out)
      }
      annRead(freshProbes())
      timed("pipeline.ann_append")(Similarity.appendAnnToIndex(spark, lake,
        Similarity.normedOfBatch(Data.vecFrame(spark, vecs)), AnnKind))
      annRead(freshProbes())
      folded += batch.size + vecs.size
      lastBatch = batch
      // takedown: lake docs the latest index read returned, plus
      // vectors of the previous fold (the set-up's, in the first cycle)
      val docsDown = r.shuffle(candidates.filter(_ < DocIdBase).filterNot(removedDocs).distinct)
        .take(TakedownDocs)
      val vecsDown = r.shuffle(vecBatch(ctx.seed, cycle - 1)).take(TakedownVecs)
      timed("pipeline.takedown")(Maintenance.takedown(spark, lake, docsDown,
        vecsDown.map(_.vec_id)))
      removedDocs ++= docsDown
      removedVecs ++= vecsDown.map(_.vec_id)
      vecsRemoved ++= vecsDown
      annRead(removedProbes(vecsDown))
      IndexReads.foreach { q =>
        timed("pipeline.index_read") {
          val ids = docIds(SparkEntry.queries(q)(spark, lake))
          ctx.check(ids.nonEmpty && !ids.exists(removedDocs), s"fold: $q returned a taken-down doc")
          candidates = ids
        }
      }
      annRead(freshProbes())
      // the index the cycle's reads saw; compaction waits until after
      // the last cycle, so every file a fold adds is counted here
      val idx1 = dirStats(indexRoot)
      filesAfter += idx1._1
      bytesWritten += math.max(0.0, idx1._2 - idx0._2)
      lastCycleNs = System.nanoTime() - cycle0
      cycle += 1
    }
    timed("pipeline.compact")(Maintenance.compactAll(spark, lake))
    // a takedown must survive compaction
    annRead(removedProbes(vecsRemoved.toSeq))
    val c1 = ctx.trace.snap()
    // replaying a batch through curateBatch is a no-op: the index
    // gains no file and no byte
    timed("pipeline.replay") {
      val before = dirStats(indexRoot)
      curate(spark, lastBatch)
      val after = dirStats(indexRoot)
      ctx.check(after == before, s"fold: replaying a batch changed the index $before -> $after")
    }
    checkDigests(ctx, digests.toSeq)

    val all = ms.filter(_._1 != "pipeline.replay").values.flatten.toSeq
    val reads = ReadKinds.flatMap(k => ms.getOrElse(k, Nil))
    System.err.println(f"[perfbench] fold: $cycle cycles, ${all.size} ops, " +
      ms.map { case (k, v) => f"$k ${Stats.median(v.toSeq)}%.0f ms x${v.size}" }.mkString(", ") +
      f"; index files after each cycle ${filesAfter.map(_.toInt).mkString(",")}")
    def med(k: String) = ms.get(k).map(v => Stats.median(v.toSeq)).getOrElse(0.0)
    // the rate charges every op of the run (reads, takedown and
    // compaction too) to the rows it folded: a change that speeds one op
    // and slows another shows in it
    val e2e = Seq(
      Metric("p50_ms", Stats.median(reads), "ms"),
      Metric("rate_per_s", folded / (all.sum / 1e3), "1/s"))
    val d = c1 - c0
    val layers = Seq(
      Metric("pipeline.curate_batch_ms", med("pipeline.curate_batch"), "ms"),
      Metric("pipeline.ann_append_ms", med("pipeline.ann_append"), "ms"),
      Metric("pipeline.ann_search_ms", med("pipeline.ann_search"), "ms"),
      Metric("pipeline.index_read_ms", med("pipeline.index_read"), "ms"),
      Metric("pipeline.takedown_ms", med("pipeline.takedown"), "ms"),
      Metric("pipeline.compact_ms", med("pipeline.compact"), "ms"),
      Metric("pipeline.dup_ratio", dupFlagged.toDouble / math.max(1, cycle * BatchDocs), "ratio"),
      Metric("sources.bytes_written_mb", Stats.mean(bytesWritten.toSeq), "MB"),
      Metric("sources.index_files", Stats.mean(filesAfter.toSeq), "files"),
      Metric("sources.index_mb_per_input_mb", dirStats(indexRoot)._2 / math.max(1e-9, inputMb), "ratio"),
      Metric("jvm.gc_ms", d("gc_ms").toDouble / all.size, "ms")) ++
      Layers.spark(d, all.size)
    (e2e, layers)
  }

  /** curateBatch on the lake, with the session's LM score-to-bucket map
    * dropped first. TrainingPrep caches that map per session under
    * `lmbucket_map:<dir>` and appendScored leaves it in place, so a
    * second batch's new scores would miss the stale map and curateBatch
    * would return no row for a novel doc. Dropping it makes every call
    * pay the map build a correct fold needs. */
  private def curate(spark: SparkSession, batch: Seq[Data.Doc]): Seq[Row] = {
    ArtifactCache.drop(spark, s"lmbucket_map:$lake")
    TrainingPrep.curateBatch(spark, lake, spark.createDataFrame(batch).toDF()).collect().toSeq
  }

  /** The batch of cycle `c` (-1 for the set-up's): [[BatchDocs]] docs
    * (1% of the lake) under fresh ids, the first [[DupDocs]] of them
    * near-duplicates of lake docs. */
  private def docBatch(r: Random, c: Int): Seq[Data.Doc] =
    (0 until BatchDocs).map { j =>
      val id = DocIdBase + (c + 1).toLong * 1000 + j
      val t = if (j < DupDocs) Data.nearDup(lakeDocs(r.nextInt(lakeDocs.size)).text)
              else Data.text(r)
      Data.doc(id, t, r)
    }

  private def vecBatch(seed: Long, c: Int): Seq[Data.Vec] =
    Data.vecs(seed + 1, (0 until BatchVecs).map(j => VecIdBase + (c + 1).toLong * 1000 + j))
}

object Fold {
  /** A lake of the sf0.1 test corpus's shape at 300 docs, not its
    * 5000: at full size a run's set-up, takedown and compaction take
    * 15-20 s longer, more than the benchmark's time budget affords. */
  val Docs = 300
  val Vecs = 300
  /** 1% batches, one doc of each a near-duplicate, so the dup probe
    * has a hit to find every cycle. */
  val BatchDocs = 3
  val BatchVecs = 3
  val DupDocs = 1
  val TakedownDocs = 2
  val TakedownVecs = 2
  /** The read ops whose median is the workload's p50. */
  val ReadKinds: Seq[String] = Seq("pipeline.ann_search", "pipeline.index_read")
  val AnnKind = "trained"
  val DocIdBase = 10000000L
  val VecIdBase = 20000000L
  val QueryIdBase = 30000000L
  /** Queries served from a persisted index family, which a takedown
    * must reach. (dedup_minhash_lsh and docs_despan map over the raw
    * documents table, which a takedown does not rewrite.) */
  val IndexReads: Seq[String] = Seq("dedup_simhash")

  def indexRoot: File = new File(graft.sources.TableIO.indexRoot)

  /** Every doc id a read returns, whatever the id columns are named. */
  def docIds(df: DataFrame): Seq[Long] = {
    val cols = df.columns.filter(Set("doc_id", "d1", "d2", "doc_a", "doc_b"))
    require(cols.nonEmpty, s"no doc id column in ${df.columns.mkString(",")}")
    df.select(cols.map(col): _*).collect().toSeq.flatMap(r =>
      (0 until r.length).filterNot(r.isNullAt).map(r.getLong))
  }

  /** Order-independent digest of a curateBatch output. */
  def digest(rows: Seq[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.map(_.mkString("|")).sorted.foreach(s => md.update(s.getBytes("UTF-8")))
    md.digest().take(8).map("%02x".format(_)).mkString
  }

  /** Per-batch digests must repeat across runs of the same build with
    * the same seed: the first such run in a checkout records them beside
    * the benchmark's work directory, later ones compare their common
    * prefix. Keyed by the build stamp, so code that changes what
    * curateBatch returns starts a fresh record. */
  def checkDigests(ctx: Ctx, ds: Seq[String]): Unit = {
    val f = new File(ctx.work.getParentFile, s"digests/${ctx.build}/fold-${ctx.seed}.txt")
    if (f.exists()) {
      val old = scala.io.Source.fromFile(f).getLines().toVector
      ds.zip(old).zipWithIndex.foreach { case ((a, b), i) =>
        ctx.attempted.incrementAndGet()
        ctx.check(a == b, s"fold: batch $i digest $a differs from an earlier run's $b")
      }
    }
    if (!f.exists() || ds.size > scala.io.Source.fromFile(f).getLines().size) {
      f.getParentFile.mkdirs()
      java.nio.file.Files.write(f.toPath, ds.mkString("\n").getBytes("UTF-8"))
    }
  }

  def dirStats(d: File): (Double, Double) = {
    val fs = if (d.exists()) java.nio.file.Files.walk(d.toPath).filter(p =>
      java.nio.file.Files.isRegularFile(p) && !p.getFileName.toString.startsWith(".")).toArray
      .map(_.asInstanceOf[java.nio.file.Path]) else Array.empty[java.nio.file.Path]
    (fs.length.toDouble, fs.map(p => java.nio.file.Files.size(p)).sum / 1048576.0)
  }

  def dirMb(d: File): Double = dirStats(d)._2
}
