package graft.sources

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.{NdArray, TestSpark}

/** Writer equivalence for [[ChunkWrite]]: every `graft.sources` writer
  * must put on disk exactly the bytes its format's encoder gives for a
  * driver-side reference densify of the same cells — with rows cut
  * across partitions mid-chunk, whole chunks absent, a ragged last chunk,
  * NaN/-0.0/±Inf values, a non-zero fill, N-d chunk keys and exact int64.
  * Each write must also shuffle chunk fragments, not cells: at most
  * (input partitions × chunks) shuffle records. */
class ChunkWriteSpec extends AnyFunSuite {
  import TestSpark.spark

  private def freshDir(): String = {
    val d = Files.createTempDirectory("graft-cw").toString
    Files.delete(Paths.get(d))
    d
  }

  /** The file at `path` holds exactly `want`; names the first differing byte. */
  private def sameBytes(path: String, want: Array[Byte], what: String): Unit = {
    val got = Files.readAllBytes(Paths.get(path))
    val at = got.indices.find(i => i >= want.length || got(i) != want(i))
      .getOrElse(want.length)
    assert(at == want.length && got.length == want.length,
      s"$what: ${got.length} bytes vs ${want.length} expected, first difference at byte $at")
  }

  private def le(vals: Array[Double]): Array[Byte] = {
    val b = ByteBuffer.allocate(vals.length * 8).order(ByteOrder.LITTLE_ENDIAN)
    vals.foreach(b.putDouble)
    b.array()
  }

  /** Shuffle records written by `body`, read once the listener bus has
    * delivered every task-end event. */
  private def shuffleRecords(body: => Unit): Long = {
    val sc = spark.sparkContext
    val n = new AtomicLong
    val l = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        Option(e.taskMetrics).foreach(m => n.addAndGet(m.shuffleWriteMetrics.recordsWritten))
    }
    def drain(): Unit = {
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
    }
    drain()
    sc.addSparkListener(l)
    try { body; drain(); n.get } finally sc.removeSparkListener(l)
  }

  // the cells: values carry NaN, -0.0 and ±Inf; idx in [300, 512) is
  // absent (two whole chunks of 64 cells plus parts of two more); the
  // last chunk is ragged (1000 = 15 * 64 + 40)
  private val n = 1000L
  private val special = Map(3L -> Double.NaN, 4L -> -0.0, 5L -> Double.PositiveInfinity,
    6L -> Double.NegativeInfinity, 999L -> -0.0)
  private val cells: Seq[(Long, Double)] = (0L until n)
    .filterNot(i => i >= 300 && i < 512 || i % 11 == 7)
    .map(i => i -> special.getOrElse(i, (i * 37 % 101) - 50.25))

  /** The cells as an element table in two layouts: round-robin over 7
    * partitions (every map task holds a thin slice of every chunk) and
    * range-split in 3 (boundaries fall mid-chunk, most chunks arrive
    * whole from one task). */
  private def layouts(df: DataFrame, key: String): Seq[(Int, DataFrame)] =
    Seq(7 -> df.repartition(7), 3 -> df.repartitionByRange(3, df(key))).map { case (p, d) =>
      val c = d.cache(); c.count(); p -> c
    }
  private lazy val flat = layouts(spark.createDataFrame(cells).toDF("idx", "v"), "idx")

  /** Reference densify of the 1-d cells over [from, until), `fill` elsewhere. */
  private def ref(from: Long, until: Long, fill: Double): Array[Double] = {
    val m = cells.toMap
    (from until until).map(i => m.getOrElse(i, fill)).toArray
  }

  test("zarr v2/v3 1-d, sharded and <f4 stores: chunk bytes equal the reference encode") {
    val chunk = 64L
    for ((parts, el) <- flat) {
      for ((fmt, comp, shard, dtype) <- Seq((2, Some("zlib"), None, "<f8"),
          (3, None, Some(16L), "<f8"), (3, Some("zstd"), None, "<f4"))) {
        val dir = freshDir()
        val recs = shuffleRecords(shard match {
          case Some(i) => Zarr.write1dSharded(el, dir, n, chunk, i, comp)
          case None    => Zarr.write1d(el, dir, n, chunk, comp, fmt, dtype)
        })
        val m = Zarr.readMeta(dir)
        val grid = (n + chunk - 1) / chunk
        assert(recs <= parts * grid, s"$recs shuffle records for $parts x $grid chunks")
        for (b <- 0L until grid) {
          // full edge-padded chunk; padding and absent cells are 0
          val want = ref(b * chunk, (b + 1) * chunk, 0.0)
          val enc = if (shard.isDefined) Zarr.encodeShard(want, m)
                    else Zarr.encodeChunk(want, comp, dtype)
          sameBytes(s"$dir/${m.keyOf(Seq(b))}", enc,
            s"chunk $b (format $fmt, $comp, $dtype, $parts partitions)")
        }
      }
    }
  }

  test("npy and hdf5 stacks and TileDB fragments (non-zero fill) equal the reference") {
    val bs = 64L
    val grid = (n + bs - 1) / bs
    for ((parts, el) <- flat) {
      val npy = freshDir(); val h5 = freshDir(); val tdb = freshDir()
      TileDb.createArray(spark, tdb, TileDb.Schema(Seq(n), Seq(bs), fill = -2.5))
      for ((write, name) <- Seq[(() => Unit, String)](
          (() => NpyStack.write(el, npy, bs, n), "npy"),
          (() => Hdf5.writeStack(el, h5, bs, n), "h5"),
          (() => TileDb.write(el, tdb, ts = 1L, blockCells = bs), "tiledb"))) {
        val recs = shuffleRecords(write())
        assert(recs <= parts * grid, s"$name: $recs shuffle records for $parts x $grid")
      }
      for (b <- 0L until grid) {
        val (lo, hi) = (b * bs, math.min((b + 1) * bs, n))
        sameBytes(s"$npy/$b.npy", NpyStack.npyBytes(ref(lo, hi, 0.0)), s"npy $b")
        sameBytes(s"$h5/$b.h5", Hdf5.h5Bytes(Seq(("data", ref(lo, hi, 0.0), Seq(hi - lo)))),
          s"h5 $b")
      }
      val frags = StoreIO.listNames(s"$tdb/__fragments")
      assert(frags.size == grid)
      frags.foreach { f =>
        val Seq((lo, hi)) = TileDb.parseFragMeta(Files.readAllBytes(
          Paths.get(s"$tdb/__fragments/$f/__fragment_metadata.tdb")))
        sameBytes(s"$tdb/__fragments/$f/a0.tdb", le(ref(lo, hi + 1, -2.5)), s"tiledb $f")
      }
    }
  }

  test("exact int64 path (write1dLong, plain and sharded) keeps values above 2^53") {
    val big = (1L << 53) + 1
    val vals = (0L until 500L).filter(_ % 3 != 1).map(i => i -> (big + i * 7919L))
    val df = spark.createDataFrame(vals).toDF("idx", "v")
    val chunk = 128L
    val grid = (500L + chunk - 1) / chunk
    val m0 = vals.toMap
    for ((parts, el) <- layouts(df, "idx"); inner <- Seq(None, Some(32L))) {
      val dir = freshDir()
      val recs = shuffleRecords(Zarr.write1dLong(el, dir, 500L, chunk,
        compressor = Some("gzip"), format = 3, inner = inner))
      assert(recs <= parts * grid)
      val m = Zarr.readMeta(dir)
      for (b <- 0L until grid) {
        val want = Array.tabulate(chunk.toInt)(k => m0.getOrElse(b * chunk + k, 0L))
        val enc = if (inner.isDefined) Zarr.encodeShardLong(want, m)
                  else Zarr.encodeChunkLong(want, Some("gzip"))
        sameBytes(s"$dir/${m.keyOf(Seq(b))}", enc, s"chunk $b, inner $inner")
      }
    }
  }

  test("2-d and rank-3 chunk keys: zarr, npy stack and TileDB writeNd equal the reference") {
    val shape = Seq(9L, 7L, 5L)
    val vol = shape.product
    val rowVol = 35 // cells per axis-0 row
    val dense = Array.tabulate(vol.toInt) { f =>
      if (f % 13 == 4 || f >= 100 && f < 170) 0.0
      else if (f == 9) Double.NaN else if (f == 10) -0.0 else f * 1.5 - 40
    }
    val nd = spark.createDataFrame(dense.indices.collect {
      case f if dense(f) != 0.0 || 1 / dense(f) < 0 =>
        (f / 35L, f / 5 % 7L, f % 5L, dense(f))
    }).toDF("c0", "c1", "c2", "v")
    for ((parts, df) <- layouts(nd, "c0")) {
      val a = new NdArray(df, shape)
      // zarr rank 3, edge chunks on every axis
      val chunks = Seq(4L, 3L, 2L)
      val z = freshDir()
      val zGrid = shape.zip(chunks).map { case (s, c) => (s + c - 1) / c }
      assert(shuffleRecords(Zarr.writeNd(a, z, chunks)) <= parts * zGrid.product)
      for (b0 <- 0L until zGrid(0); b1 <- 0L until zGrid(1); b2 <- 0L until zGrid(2)) {
        val want = (for (i <- 0L until 4; j <- 0L until 3; k <- 0L until 2) yield {
          val (x, y, w) = (b0 * 4 + i, b1 * 3 + j, b2 * 2 + k)
          if (x < 9 && y < 7 && w < 5) dense((x * 35 + y * 5 + w).toInt) else 0.0
        }).toArray
        sameBytes(s"$z/$b0.$b1.$b2", Zarr.encodeChunk(want, None), s"zarr $b0.$b1.$b2")
      }
      // zarr 2-d over the (c0, c1) plane at c2 == 2
      val z2 = freshDir()
      val plane = df.where("c2 = 2").selectExpr("c0 AS i", "c1 AS j", "v")
      assert(shuffleRecords(Zarr.write2d(plane, z2, 9, 7, 4, 3)) <= parts * 9)
      for (bi <- 0L until 3; bj <- 0L until 3) {
        val want = (for (i <- 0L until 4; j <- 0L until 3) yield {
          val (x, y) = (bi * 4 + i, bj * 3 + j)
          if (x < 9 && y < 7) dense((x * 35 + y * 5 + 2).toInt) else 0.0
        }).toArray
        sameBytes(s"$z2/$bi.$bj", Zarr.encodeChunk(want, None), s"zarr2d $bi.$bj")
      }
      // row-block stacks along axis 0: ragged last block of 1 row
      val npy = freshDir(); val tdb = freshDir()
      assert(shuffleRecords(NpyStack.writeNd(a, npy, 4)) <= parts * 3)
      assert(shuffleRecords(TileDb.writeNd(a, tdb, ts = 1L, blockRows = 4)) <= parts * 3)
      for (b <- 0 until 3) {
        val rows = math.min(4, 9 - b * 4)
        val want = dense.slice(b * 4 * 35, (b * 4 + rows) * 35)
        sameBytes(s"$npy/$b.npy", NpyStack.npyBytesNd(want, Seq(rows.toLong, 7L, 5L)), s"npy $b")
      }
      StoreIO.listNames(s"$tdb/__fragments").foreach { f =>
        val dom = TileDb.parseFragMeta(Files.readAllBytes(
          Paths.get(s"$tdb/__fragments/$f/__fragment_metadata.tdb")))
        val (r0, r1) = dom.head
        assert(dom.tail == Seq((0L, 6L), (0L, 4L)))
        sameBytes(s"$tdb/__fragments/$f/a0.tdb",
          le(dense.slice(r0.toInt * rowVol, (r1.toInt + 1) * rowVol)), s"tiledb $f")
      }
    }
  }

  test("one partition spanning many chunks: fragments leave early, bytes unchanged") {
    // 1.5M cells in 12 chunks of 2^17 (ragged last): more than a map task
    // holds open at once, so fragments must leave before the input ends.
    // Chunk 0 is complete and the rest have holes (idx % 11 == 7).
    val n = 1500000L
    val chunk = 1L << 17
    val grid = (n + chunk - 1) / chunk
    def value(i: Long): Double = if (i == 5) -0.0 else i * 0.5 - 1000.25
    def absent(i: Long): Boolean = i >= chunk && i % 11 == 7
    for ((order, idxSql) <- Seq("sorted" -> "id", "strided" -> s"(id * 7919) % $n")) {
      val el = spark.range(0, n, 1, 1).selectExpr(s"$idxSql AS idx")
        .where(s"NOT (idx >= $chunk AND idx % 11 = 7)")
        .selectExpr("idx", "IF(idx = 5, -0.0D, idx * 0.5D - 1000.25D) AS v")
      val dir = freshDir()
      val recs = shuffleRecords(Zarr.write1d(el, dir, n, chunk))
      if (order == "strided")
        assert(recs > grid, s"$recs shuffle records: every chunk left the task only once")
      for (b <- 0L until grid) {
        val want = Array.tabulate(chunk.toInt) { k =>
          val i = b * chunk + k
          if (i >= n || absent(i)) 0.0 else value(i)
        }
        sameBytes(s"$dir/$b", Zarr.encodeChunk(want, None), s"$order chunk $b")
      }
    }
  }

  test("an empty input still writes every chunk as fill") {
    val dir = freshDir()
    val empty = spark.range(0).selectExpr("id AS idx", "CAST(id AS DOUBLE) AS v")
    Zarr.write1d(empty, dir, 300L, 128L)
    for (b <- 0 until 3)
      sameBytes(s"$dir/$b", Zarr.encodeChunk(new Array[Double](128), None), s"chunk $b")
  }
}
