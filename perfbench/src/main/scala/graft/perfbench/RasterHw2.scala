package graft.perfbench

import java.io.File
import java.nio.file.Files

import graft.operators.{BandStats, Composite}
import graft.sources.{Raster, Tables}
import graft.sources.Raster.{GraftRasterCodec, TiffCodec}

/** Seeded 6-band raster corpus whose statistics are known in closed form.
  *
  * Pixel (y, x) of band b in file f is 0 (nodata) on a per-file footprint
  * of about a quarter of the pixels, and otherwise `m(f, b) ± d`, where
  * the offset `d` is mirrored with opposite sign at the point-reflected
  * pixel `(h-1-y, w-1-x)`. The footprint is symmetric too, so the valid
  * pixels of every (file, band) sum to exactly `count · m(f, b)`: the
  * per-file mean is the integer `m(f, b)` with no rounding, and the
  * per-band mean, max and min of those means follow without reading a
  * pixel. All values are integers in [0, 255]. */
final class RasterCorpus(seed: Long, val files: Int, val w: Int, val h: Int) {
  val bands = 6

  private def mix(a: Long): Long = {
    var z = a + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }
  private def hash(a: Long, b: Long, c: Long, d: Long): Long =
    mix(mix(mix(mix(seed) ^ a) ^ b) ^ c) ^ d

  def name(f: Int): String = f"scene_$f%03d.tif"

  /** Per-file, per-band mean: an integer in [40, 215]. */
  def mean(f: Int, b: Int): Int = 40 + java.lang.Math.floorMod(hash(1, f, b, 0), 176L).toInt

  def pixel(f: Int, b: Int, p: Int): Float = {
    val q = w * h - 1 - p
    val (c, sign) = if (p < q) (p, 1) else (q, -1)
    if (java.lang.Math.floorMod(hash(2, f, c, 0), 4L) == 0) 0f
    else (mean(f, b) + sign * (java.lang.Math.floorMod(hash(3, f, b, c), 79L) - 39)).toFloat
  }

  def band(f: Int, b: Int): Array[Float] = Array.tabulate(w * h)(pixel(f, b, _))

  def write(dir: File): Unit = {
    dir.mkdirs()
    (0 until files).foreach { f =>
      val bytes = GraftRasterCodec.encode(w, h, Array.tabulate(bands)(b => band(f, b + 1)))
      Files.write(new File(dir, name(f)).toPath, bytes)
    }
  }

  /** Expected `bandStats` rows: band → (mean, max, min of the per-file
    * means, file count). The mean is the exact integer sum divided once,
    * the same single rounding Spark's average performs. */
  def expectedStats: Map[Int, (Double, Double, Double, Long)] =
    (1 to bands).map { b =>
      val ms = (0 until files).map(mean(_, b))
      b -> (ms.map(_.toLong).sum.toDouble / files, ms.max.toDouble,
            ms.min.toDouble, files.toLong)
    }.toMap
}

/** The reference assignment's own experiment: per-band max/min/mean of
  * per-file means, and the bands 4/3/2 RGB composite written as one TIFF
  * per input. Compute-bound: raster decode and the two operators do the
  * work; query construction and planning are negligible. */
final class RasterHw2(run: Run) extends Workload {
  val name = "raster_hw2"
  private val (nFiles, side) = if (run.opts.size == "tiny") (4, 64) else (32, 256)
  private val corpus = new RasterCorpus(run.opts.seed, nFiles, side, side)
  private var dir: File = _
  private var passNo = 0
  private var bytesWritten = 0L

  def prepare(d: File): Unit = { dir = d; corpus.write(d) }

  private def pixels = Raster.pixels(run.spark, dir.getAbsolutePath, "*.tif")

  def pass(): Unit = {
    val expected = corpus.expectedStats
    val corrupt = run.opts.corrupt
    run.op("stats") {
      val level1 = run.tracer.span("build") {
        BandStats.bandFileMeans(pixels, "file", "band", "value")
      }
      val stats = run.tracer.span("build")(BandStats.bandStats(level1, "band"))
      run.tracer.span("exec")(stats.collect())
    } { rows =>
      val got = rows.map { r =>
        r.getAs[Int]("band") -> (r.getAs[Double]("mean_of_means"),
          r.getAs[Double]("max_of_means"), r.getAs[Double]("min_of_means"),
          r.getAs[Long]("n_files"))
      }.toMap
      val want = if (corrupt) expected.updated(1, expected(1).copy(_1 = -1.0)) else expected
      if (got == want) None else Some(s"band stats $got != $want")
    }
    passNo += 1
    val out = new File(run.opts.work, s"composite_$passNo")
    run.op("composite") {
      val px = run.tracer.span("build")(pixels)
      run.tracer.span("exec")(Raster.writeCompositeTiff(px, out.getAbsolutePath).collect())
    } { audit =>
      bytesWritten = audit.map(_.getAs[Long]("n_bytes")).sum
      val err = checkComposite(out, audit.length)
      deleteTree(out)
      err
    }
  }

  /** Every input has a `<stem>_color.tif` that decodes to bands (4, 3, 2). */
  private def checkComposite(out: File, audited: Int): Option[String] = {
    if (audited != nFiles) return Some(s"$audited composites written, want $nFiles")
    (0 until nFiles).iterator.map { f =>
      val path = new File(out, Raster.colorOutputName(corpus.name(f), "colorimage"))
      if (!path.isFile) Some(s"missing $path")
      else TiffCodec.decode(Files.readAllBytes(path.toPath)) match {
        case Some((`side`, `side`, rgb)) if rgb.length == 3 =>
          val want = Seq(4, 3, 2).map(corpus.band(f, _))
          if (run.opts.corrupt && f == 0) want.head(0) = -1f
          if ((0 until 3).forall(i => java.util.Arrays.equals(rgb(i), want(i)))) None
          else Some(s"$path: pixels differ from bands 4/3/2")
        case _ => Some(s"$path: not a ${side}x$side RGB TIFF")
      }
    }.collectFirst { case Some(e) => e }
  }

  private def deleteTree(f: File): Unit = {
    Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }

  def named(m: Measure): Seq[(String, Double, String)] = Seq(
    ("stats_s", m.opMedian("stats"), "s"),
    ("composite_s", m.opMedian("composite"), "s"))

  /** Layer probes, each timed through one public entry point. */
  def layers(traced: Measure): Map[String, Double] = {
    val spark = run.spark
    def median3(f: => Unit): Double = Stats.median((1 to 3).map { _ =>
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    })
    val decode = median3(run.tracer.span("decode")(pixels.queryExecution.toRdd.count()))
    val pivot = median3(run.tracer.span("pivot") {
      Composite.rgbComposite(pixels).queryExecution.toRdd.count()
    })
    val blobs = dir.listFiles.filter(_.getName.endsWith(".tif")).sortBy(_.getName)
      .map(f => Files.readAllBytes(f.toPath))
    val samples = nFiles.toDouble * side * side
    val decodeMpix = samples * corpus.bands / 1e6 / median3(
      run.tracer.span("codec_decode")(blobs.foreach(GraftRasterCodec.decode)))
    val rgb = (0 until nFiles).map(f => Array(4, 3, 2).map(corpus.band(f, _)))
    val encodeMpix = samples / 1e6 / median3(
      run.tracer.span("tiff_encode")(rgb.foreach(TiffCodec.encodeRgb(side, side, _))))
    val files = run.tracer.span("list") {
      Tables.binaryFiles(spark, dir.getAbsolutePath, "*.tif").select("path").count()
    }
    val statsS = traced.opMedian("stats")
    val compS = traced.opMedian("composite")
    Map(
      "sources.decode_s" -> decode,
      "sources.decode_mpix_per_s" -> decodeMpix,
      "sources.tiff_encode_mpix_per_s" -> encodeMpix,
      "sources.files_read" -> files.toDouble,
      "sources.bytes_read" -> traced.spanCount("stats", "input_b"),
      "sources.bytes_written" -> bytesWritten.toDouble,
      "operators.stats_agg_s" -> (statsS - decode),
      "operators.composite_pivot_s" -> pivot,
      "operators.composite_write_s" -> (compS - pivot))
  }

  /** One untraced pass on a single core: the paper's one-process
    * baseline. Leaves the session on that core. */
  override def scaling(m: Measure): Map[String, Double] = {
    val n = run.activeCores
    run.stop(); run.start(1)
    val before = run.ops.length
    pass()
    val t1 = run.ops.drop(before).map(o => o.name -> o.seconds).toMap
    val (s1, c1) = (t1("stats"), t1("composite"))
    val (sn, cn) = (m.opMedian("stats"), m.opMedian("composite"))
    Map(
      "raster.t1_stats_s" -> s1, "raster.t1_composite_s" -> c1,
      "raster.speedup_stats" -> s1 / sn, "raster.speedup_composite" -> c1 / cn,
      "raster.efficiency_stats" -> s1 / sn / n,
      "raster.efficiency_composite" -> c1 / cn / n)
  }
}
