package graft.perfbench

import java.nio.file.{Files, Path}
import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.model.{AnnualMeanDataset, Envelope, GridDef}
import graft.pipelines.MosaicPipeline
import graft.plan.{RegionPlanner, ScenePlanner}
import graft.zarr.{ArrayStore, ZarrStore}

/** One timed operation. `run` returns the output that `check` verifies
  * (None = correct) and `items` counts; `after` restores state between
  * ops, untimed. */
final case class Op(name: String, run: Option[Tracer] => Any,
                    check: Any => Option[String], items: Any => Long,
                    after: () => Unit = () => ())

/** A workload: set-up (repeated for `setup_s`) and rounds of ops. There is
  * no warm-up pass: one would cost as much as the timed rounds, so the
  * first round runs cold, as a batch job would. Traced runs also call
  * `probes` once per round: direct calls into layer functions whose spans
  * give the per-layer numbers that a whole query cannot. */
trait Workload {
  def setup(): Unit
  def round(r: Int): Seq[Op]
  def probes: Option[Tracer => Unit] = None
}

object Workloads {
  def apply(name: String, spark: SparkSession, spec: Map[String, Any],
            inputs: Path, work: Path): Workload = name match {
    case "mosaic_build"   => new MosaicBuild(spark, spec, work)
    case "mosaic_refresh" => new MosaicRefresh(spark, spec, work)
    case "corpus_dedup" | "query_mix" => new Queries(spark, spec, inputs)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  private[perfbench] def num(m: Any, k: String): Int =
    m.asInstanceOf[Map[String, Any]](k).asInstanceOf[Double].toInt
  private[perfbench] def list(m: Any, k: String): Vector[Any] =
    m.asInstanceOf[Map[String, Any]](k).asInstanceOf[Vector[Any]]
}

/** Queries of `SparkEntry.queries`, each checked against the digest of its
  * DuckDB twin (`expected.json`, written before the program starts). */
final class Queries(spark: SparkSession, spec: Map[String, Any], inputs: Path)
    extends Workload {
  import Workloads._
  private val names = list(spec, "queries").map(_.toString)
  private val tables = inputs.resolve(spec("tables").toString).toString
  private val items = num(spec, "items_per_op").toLong
  private val expected: Map[String, Canon.Digest] =
    graft.model.Json.parseObject(Files.readString(inputs.resolve("expected.json")))
      .map { case (q, v) =>
        q -> Canon.Digest(num(v, "rows").toLong,
          v.asInstanceOf[Map[String, Any]]("digest").toString)
      }
  private val entries = names.map(n => n -> graft.SparkEntry.queries(n))

  /** Opens every table (listing and schema). */
  def setup(): Unit =
    new java.io.File(tables).list().filter(_.endsWith(".parquet")).sorted
      .foreach(f => Tables.load(spark, tables, f.stripSuffix(".parquet")))

  def round(r: Int): Seq[Op] = entries.map { case (n, fn) =>
    Op(n,
      _ => { val df = fn(spark, tables); (df.columns.toSeq, df.collect()) },
      out => {
        val (cols, rows) = out.asInstanceOf[(Seq[String], Array[Row])]
        val got = Canon.digest(cols, rows)
        val want = expected(n)
        if (got == want) None
        else Some(s"digest mismatch: ${got.rows} rows ${got.hex.take(12)} vs " +
          s"oracle ${want.rows} rows ${want.hex.take(12)}")
      },
      _ => items)
  }

  /** Dedup-layer calls over the same documents, traced once per round. */
  override def probes: Option[Tracer => Unit] =
    if (spec("workload") != "corpus_dedup") None
    else Some { t =>
      import graft.ops.Dedup
      val docs = Tables.documents(spark, tables)
      val cand = t.span("dedup.lsh")(
        Dedup.minhashCandidates(docs, "doc_id", "text", 3, 64, 2).count())(
        n => Map("dedup.lsh_candidates" -> n.toDouble))
      val pairs = Dedup.minhashDedupPairs(docs, "doc_id", "text", 3, 0.8).persist()
      t.span("dedup.verify")(pairs.count())(n => Map(
        "dedup.pairs_out" -> n.toDouble,
        "dedup.verify_yield" -> n.toDouble / math.max(1L, cand)))
      t.span("dedup.pairs") {
        Dedup.jaccardPairs(docs, "doc_id", "text", 3, 0.7, Some(1000)).count() +
          Dedup.containmentPairs(docs, "doc_id", "text", 3, 0.9, Some(1000)).count()
      }()
      t.span("dedup.cc")(Dedup.connectedComponents(pairs, "id_a", "id_b").count())()
      pairs.unpersist()
      graft.ops.ScratchCache.releaseAll()
    }
}

/** Shared mosaic pieces: configs from the spec, the golden masked mean
  * recomputed from `MosaicPipeline.pixel`, and direct chunk decoding. */
abstract class Mosaic(spark: SparkSession, spec: Map[String, Any], work: Path)
    extends Workload {
  import spark.implicits._
  import Workloads._
  protected val ds = AnnualMeanDataset
  protected val px: Int = num(spec, "chunk_px")
  protected val nBands: Int = ds.bands.length
  protected val stores: Path = Files.createDirectories(work.resolve("stores"))

  final case class Env(x0: Int, y0: Int, w: Int, h: Int, years: Seq[Int]) {
    def envelope = Envelope(x0 + 0.5, y0 + 0.2, x0 + w - 0.5, y0 + h - 0.2)
    def tiles: Long = w.toLong * h
    def chunks: Long = tiles * years.size * nBands
  }
  protected def env(m: Any): Env = Env(num(m, "x0"), num(m, "y0"), num(m, "w"),
    num(m, "h"), list(m, "years").map(_.asInstanceOf[Double].toInt))

  protected def config(e: Env, root: Path, budget: Long = 1L << 20) =
    MosaicPipeline.Config(e.envelope,
      e.years.map(y => Timestamp.valueOf(s"$y-06-15 00:00:00")), ds,
      root.toString, chunkPx = px, regionBudgetBytes = budget)

  /** Window periods per year, from the dataset protocol (golden prep). */
  private val windows = scala.collection.mutable.Map.empty[Int, Seq[Long]]
  protected def window(year: Int): Seq[Long] = windows.getOrElseUpdate(year,
    Seq(Timestamp.valueOf(s"$year-06-15 00:00:00")).toDF("t")
      .select(explode(ds.windowPeriods(ds.snapToTemporalGrid($"t"))))
      .as[Long].collect().toSeq.sorted)

  /** Tile id of the chunk at (cy, cx), as `Envelopes.tileId` names it. */
  protected def tileId(e: Env, cy: Int, cx: Int): String = {
    val xmin = (e.x0 + cx).toDouble
    val ymax = (e.y0 + cy + 1).toDouble
    f"${math.abs(xmin).toInt}%03d${if (xmin < 0) "W" else "E"}_" +
      s"${math.abs(ymax).toInt}${if (ymax < 0) "S" else "N"}"
  }

  /** Masked temporal mean of one chunk, recomputed cell by cell. */
  protected def golden(e: Env, t: Int, band: Int, cy: Int, cx: Int): Array[Float] = {
    val tile = tileId(e, cy, cx)
    val periods = window(e.years.sorted.apply(t))
    Array.tabulate(px * px) { c =>
      var sum = 0.0
      var n = 0
      periods.foreach { p =>
        if (MosaicPipeline.pixel(tile, p, nBands, c, nBands + 1) == 1f) {
          sum += MosaicPipeline.pixel(tile, p, band, c, nBands + 1)
          n += 1
        }
      }
      if (n == 0) Float.NaN else (sum / n).toFloat
    }
  }

  protected def same(a: Array[Float], b: Array[Float]): Boolean =
    a.length == b.length && a.indices.forall(i =>
      java.lang.Float.floatToIntBits(a(i)) == java.lang.Float.floatToIntBits(b(i)))

  /** Chunk files of a Zarr store: "t.b.cy.cx" -> path. */
  protected def chunkFiles(root: Path): Map[(Int, Int, Int, Int), Path] = {
    val dir = root.resolve("data")
    if (!Files.isDirectory(dir)) return Map.empty
    val s = Files.list(dir)
    try s.toArray.map(_.asInstanceOf[Path]).flatMap { p =>
      p.getFileName.toString.split('.') match {
        case Array(t, b, y, x) if t.nonEmpty =>
          Some((t.toInt, b.toInt, y.toInt, x.toInt) -> p)
        case _ => None
      }
    }.toMap finally s.close()
  }

  /** Independent decode of one Zarr v2 chunk (zlib, little-endian f32). */
  protected def decode(p: Path): Array[Float] = {
    val inf = new java.util.zip.Inflater()
    inf.setInput(Files.readAllBytes(p))
    val raw = new Array[Byte](px * px * 4)
    var off = 0
    while (off < raw.length && !inf.finished()) off += inf.inflate(raw, off, raw.length - off)
    inf.end()
    val out = new Array[Float](px * px)
    java.nio.ByteBuffer.wrap(raw).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .asFloatBuffer().get(out)
    out
  }

  protected def rmTree(p: Path): Unit =
    if (Files.exists(p)) ArrayStore.rm(p.toString, force = true)

  /** The E2 -> E3 -> E1 phases, called directly. Traced, each phase is
    * materialized on its own so its span holds its own work. */
  protected def pipeline(cfg: MosaicPipeline.Config, existing: DataFrame,
                         t: Option[Tracer]): (GridDef, Seq[graft.model.Region]) = {
    val grid = graft.geo.Envelopes.tileGrid(spark, cfg.query)
    t match {
      case None =>
        val scenes = MosaicPipeline.ingestScenes(spark, cfg, grid, existing)
        val features = MosaicPipeline.buildFeatures(spark, cfg, grid, scenes)
        MosaicPipeline.buildMosaic(spark, cfg, grid, features)
      case Some(tr) =>
        val required = ScenePlanner.requiredScenes(spark, grid, cfg.query, cfg.times, cfg.dataset)
        val nReq = tr.span("plan.required_scenes")(required.count())()
        tr.span("ops.incremental")(
          graft.ops.Incremental.missing(required, existing, "url").count())(n => Map(
          "ops.incremental_pending_ratio" -> n.toDouble / math.max(1L, nReq)))
        val root = java.nio.file.Paths.get(cfg.storeRoot)
        tr.span("zarr.existing_keys")(ArrayStore.existingKeys(spark, cfg.storeRoot).count())()
        val scenes = MosaicPipeline.ingestScenes(spark, cfg, grid, existing)
        val features = MosaicPipeline.buildFeatures(spark, cfg, grid, scenes).persist()
        tr.span("agg.reduce")(features.count())(n => Map("agg.features" -> n.toDouble))
        val before = chunkFiles(root).keySet
        val bytes0 = ArrayStore.du(cfg.storeRoot).get("data").map(_._2).getOrElse(0L)
        val out = tr.span("zarr.write")(
          MosaicPipeline.buildMosaic(spark, cfg, grid, features)) { _ =>
          val after = chunkFiles(root)
          val bytes1 = ArrayStore.du(cfg.storeRoot).get("data").map(_._2).getOrElse(0L)
          val written = (after.keySet -- before).size
          Map("zarr.chunks_written" -> written.toDouble,
            "zarr.bytes_written_mb" -> (bytes1 - bytes0) / 1048576.0,
            "zarr.store_bytes_ratio" -> bytes1.toDouble / math.max(1L, after.size * px * px * 4L))
        }
        features.unpersist()
        tr.span("plan.regions")(
          RegionPlanner.planBandRange(out._1, cfg.regionBudgetBytes, 0, out._1.nBand))(
          r => Map("plan.regions" -> r.size.toDouble))
        out
    }
  }

  protected val noExisting: DataFrame = Seq.empty[String].toDF("url")
}

/** Each op builds a fresh store over its own seeded 4x3-tile envelope. */
final class MosaicBuild(spark: SparkSession, spec: Map[String, Any], work: Path)
    extends Mosaic(spark, spec, work) {
  import Workloads._
  private val envs = list(spec, "ops").map(env)
  private val samples = list(spec, "ops").map(num(_, "sample"))
  private var seq = 0

  private def op(e: Env, sample: Int): Op = {
    val root = stores.resolve(s"build-$seq")
    seq += 1
    Op("mosaic_build",
      t => pipeline(config(e, root), noExisting, t),
      _ => {
        val files = chunkFiles(root)
        if (files.size != e.chunks) Some(s"${files.size} chunks, want ${e.chunks}")
        else {
          val rnd = new scala.util.Random(sample)
          val bad = (1 to 3).map(_ => files.keys.toSeq.sorted.apply(rnd.nextInt(files.size)))
            .filterNot { case k @ (ti, b, cy, cx) => same(decode(files(k)), golden(e, ti, b, cy, cx)) }
          if (bad.isEmpty) None else Some(s"chunk ${bad.head} differs from the masked mean")
        }
      },
      _ => e.chunks,
      () => rmTree(root))
  }

  /** One single-tile, single-period store build (the year 2020 window is
    * one period): the pipeline's first-use costs land in set-up. */
  def setup(): Unit = {
    val root = stores.resolve("setup")
    pipeline(config(Env(0, 0, 1, 1, Seq(2020)), root), noExisting, None)
    rmTree(root)
  }

  def round(r: Int): Seq[Op] = Seq(op(envs(r % envs.size), samples(r % envs.size)))
}

/** Set-up builds a 10x2-tile base store; each op grows the envelope by
  * its east strip, 10% more chunks (incremental: only missing scenes are
  * ingested and only missing chunks written), then reads four seeded
  * regions back through `ArrayStore.read`, decoding their payloads.
  * `after` deletes the strip again, so every op starts from the same base
  * store. The strip is east so existing chunks keep their indices. */
final class MosaicRefresh(spark: SparkSession, spec: Map[String, Any], work: Path)
    extends Mosaic(spark, spec, work) {
  import spark.implicits._
  import Workloads._
  private val base = env(spec("base"))
  private val ops = list(spec, "ops")
  private val budget = num(spec, "region_budget").toLong
  private var root: Path = _
  private var baseGrid: GridDef = _
  private var existing: DataFrame = _
  private var reps = 0

  def setup(): Unit = {
    if (root != null) rmTree(root)
    root = stores.resolve(s"base-$reps")
    reps += 1
    val cfg = config(base, root, budget)
    baseGrid = pipeline(cfg, noExisting, None)._1
    val grid = graft.geo.Envelopes.tileGrid(spark, cfg.query)
    val urls = ScenePlanner.requiredScenes(spark, grid, cfg.query, cfg.times, ds)
      .select("url").as[String].collect().toSeq
    existing = urls.toDF("url")
  }

  private def refresh(m: Any): Op = {
    val grown = base.copy(w = base.w + 1)
    val regionPicks = list(m, "regions").map(_.asInstanceOf[Double].toLong)
    val sample = num(m, "sample")
    type Out = (GridDef, Seq[(graft.model.Region, Array[graft.cube.ChunkRow])])
    Op("mosaic_refresh",
      t => {
        val (grid, regions) = pipeline(config(grown, root, budget), existing, t)
        val picked = regionPicks.map(p => regions((p % regions.size).toInt))
        def read() = picked.map { r =>
          val rows = ArrayStore.read(spark, root.toString)
            .filter($"time" >= r.time0 && $"time" < r.time1 &&
              $"band" >= r.band0 && $"band" < r.band1 &&
              $"cy" >= r.y0 / px && $"cy" < (r.y1 + px - 1) / px &&
              $"cx" >= r.x0 / px && $"cx" < (r.x1 + px - 1) / px)
            .collect()
          (r, rows)
        }
        val got = t match {
          case None => read()
          case Some(tr) => tr.span("zarr.read")(read())(rs => Map(
            "zarr.chunks_read" -> rs.map(_._2.length).sum.toDouble,
            "zarr.bytes_read_mb" -> rs.map(_._2.map(_.data.length * 4L).sum).sum / 1048576.0))
        }
        (grid, got)
      },
      out => {
        val (grid, got) = out.asInstanceOf[Out]
        val files = chunkFiles(root)
        val rnd = new scala.util.Random(sample)
        def want(r: graft.model.Region): Long = (r.time1 - r.time0).toLong *
          (r.band1 - r.band0) * ((r.y1 - r.y0 + px - 1) / px) * ((r.x1 - r.x0 + px - 1) / px)
        if (files.size != grown.chunks) Some(s"${files.size} chunks, want ${grown.chunks}")
        else if (grid.nX != grown.w * px || grid.nY != grown.h * px) Some(s"grid $grid")
        else got.collectFirst { case (r, rows) if rows.length != want(r) =>
          s"region $r read ${rows.length} chunks, want ${want(r)}"
        }.orElse {
          val rows = got.flatMap(_._2)
          val picks = (1 to 3).map(_ => rows(rnd.nextInt(rows.size)))
          picks.collectFirst { case c if !same(c.data, golden(grown, c.time, c.band, c.cy, c.cx)) =>
            s"chunk (${c.time},${c.band},${c.cy},${c.cx}) differs from the masked mean"
          }
        }
      },
      out => grown.chunks - base.chunks + out.asInstanceOf[Out]._2.map(_._2.length.toLong).sum,
      () => {
        chunkFiles(root).foreach { case ((_, _, cy, cx), p) =>
          if (cx >= base.w) Files.delete(p)
        }
        ZarrStore.init(root.toString, baseGrid, bands = ds.bands)
      })
  }

  def round(r: Int): Seq[Op] = Seq(refresh(ops(r % ops.size)))
}
