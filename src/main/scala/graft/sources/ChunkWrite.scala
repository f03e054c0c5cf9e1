package graft.sources

import org.apache.spark.{Partitioner, TaskContext}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow

/** The one densify path of every chunked-store writer ([[Zarr]],
  * [[NpyStack]], [[TileDb]], [[Hdf5.writeStack]]): cell rows in, one dense
  * value array per chunk out, handed to the format's encoder on an
  * executor.
  *
  * Each map task folds its rows into per-chunk fragments: positions plus
  * values while a chunk is thinly touched, a value array plus presence
  * bits once half its cells are. Only fragments cross the shuffle, never
  * one record per cell. A fragment leaves the task as soon as its chunk
  * is complete, and the task never holds room for more than a few chunks
  * at once (see [[Fold]]), so its memory is bounded by the chunk size, not
  * by the input split; a task whose rows fit that bound emits one
  * fragment per chunk it touches. Values travel as raw 64-bit words, so
  * NaN payloads, -0.0 and ±Inf (and int64 beyond 2^53 on the exact-long
  * path) arrive bit for bit.
  *
  * The reduce side runs min(numBlocks, defaultParallelism) tasks; task
  * `p` owns the chunks `p, p + tasks, …` and walks them in order. A chunk
  * starts as `fill`, takes every fragment's present cells, and is encoded
  * and written; a chunk no row touched is written as pure `fill` by the
  * same loop, so the store never has holes and nothing is written from
  * the driver. A cell named by two rows keeps one of them, unspecified
  * which — as with any unordered write. */
object ChunkWrite {

  /** Densify `rows` (columns the SQL below reads, with a value column
    * `v`, already restricted to the array's bounds) into `numBlocks`
    * chunks. `blkSql` gives a row's chunk id in [0, numBlocks), `posSql`
    * its position in [0, lenOf(blk)). `write` runs once per chunk, on an
    * executor, with the chunk id and its dense values. */
  def dense(rows: DataFrame, blkSql: String, posSql: String, numBlocks: Long,
            lenOf: Long => Int, fill: Double)(write: (Long, Array[Double]) => Unit): Unit =
    run(rows, blkSql, posSql, "CAST(v AS DOUBLE)", numBlocks, lenOf,
        java.lang.Double.doubleToRawLongBits(fill), doubles = true) { (blk, words) =>
      val vals = new Array[Double](words.length)
      var i = 0
      while (i < vals.length) { vals(i) = java.lang.Double.longBitsToDouble(words(i)); i += 1 }
      write(blk, vals)
    }

  /** [[dense]] for exact int64 values (`CAST(v AS BIGINT)`), never
    * passing through double. */
  def denseLong(rows: DataFrame, blkSql: String, posSql: String, numBlocks: Long,
                lenOf: Long => Int, fill: Long)(write: (Long, Array[Long]) => Unit): Unit =
    run(rows, blkSql, posSql, "CAST(v AS BIGINT)", numBlocks, lenOf, fill,
        doubles = false)(write)

  private def run(rows: DataFrame, blkSql: String, posSql: String, valueSql: String,
                  numBlocks: Long, lenOf: Long => Int, fill: Long, doubles: Boolean)
                 (write: (Long, Array[Long]) => Unit): Unit = {
    if (numBlocks <= 0) return
    val tasks = math.min(numBlocks, rows.sparkSession.sparkContext.defaultParallelism.toLong)
      .max(1L).toInt
    // InternalRow access: no per-cell object deserialization
    val cells = rows.selectExpr(s"CAST(($blkSql) AS BIGINT)",
      s"CAST(($posSql) AS BIGINT)", valueSql).queryExecution.toRdd
    cells
      .mapPartitions { rows =>
        val fold = new Fold(numBlocks, lenOf, doubles)
        rows.flatMap(fold.add) ++ fold.flush() // flush runs once rows are spent
      }
      .repartitionAndSortWithinPartitions(new OwnerPartitioner(tasks))
      .foreachPartition { it =>
        val in = it.buffered
        var blk = TaskContext.getPartitionId().toLong
        while (blk < numBlocks) {
          val out = Array.fill(lenOf(blk))(fill)
          while (in.hasNext && in.head._1 == blk) in.next()._2.applyTo(out)
          write(blk, out)
          blk += tasks
        }
      }
  }

  /** One map task's fragments, let go as early as possible: a fragment
    * that holds every cell of its chunk leaves at once, and when the open
    * fragments hold room for more than four of the largest chunks seen
    * (and at least 2^20 cells, so small chunks do not cut a task's rows
    * into many tiny fragments) they all leave. Input sorted by chunk emits
    * each chunk once, whole; other input may emit a chunk in several
    * fragments, which the reduce side merges like any other. */
  private final class Fold(numBlocks: Long, lenOf: Long => Int, doubles: Boolean) {
    private val frags = scala.collection.mutable.LongMap.empty[Fragment]
    private var held = 0L // cells the open fragments hold room for
    private var bound = 0L
    private var lastBlk = -1L
    private var last: Fragment = null

    /** Fold one row; the fragments that leave because of it. */
    def add(row: InternalRow): List[(Long, Fragment)] = {
      val blk = row.getLong(0)
      if (blk != lastBlk) {
        require(blk >= 0 && blk < numBlocks, s"chunk id $blk outside [0, $numBlocks)")
        last = frags.getOrElseUpdate(blk, {
          val len = lenOf(blk)
          bound = math.max(bound, math.max(4L * len, 1L << 20))
          new Fragment(len)
        })
        lastBlk = blk
      }
      require(!row.isNullAt(2), s"null value in chunk $blk")
      held -= last.held
      last.add(row.getLong(1),
        if (doubles) java.lang.Double.doubleToRawLongBits(row.getDouble(2))
        else row.getLong(2))
      if (last.full) {
        frags.remove(blk)
        lastBlk = -1L
        List(blk -> last)
      } else {
        held += last.held
        if (held > bound) flush() else Nil
      }
    }

    /** Every open fragment, which leaves the task. */
    def flush(): List[(Long, Fragment)] = {
      val out = frags.toList.map { case (blk, f) => (blk, f.compact()) }
      frags.clear()
      held = 0L
      lastBlk = -1L
      out
    }
  }

  /** Chunk `blk` belongs to reduce task `blk mod tasks`. */
  private final class OwnerPartitioner(tasks: Int) extends Partitioner {
    def numPartitions: Int = tasks
    def getPartition(key: Any): Int = (key.asInstanceOf[Long] % tasks).toInt
  }

  /** One map task's cells of one chunk of `len` cells. Sparse (`pos` +
    * `words`) until half the chunk is held, then dense (`words` indexed
    * by position + `present` bits). */
  private final class Fragment(len: Int) extends Serializable {
    private var n = 0 // sparse: entries; dense: distinct present cells
    private var pos = new Array[Int](16)
    private var words = new Array[Long](16)
    private var present: Array[Long] = null

    def add(p: Long, w: Long): Unit = {
      require(p >= 0 && p < len, s"position $p outside chunk of $len")
      if (present != null) set(p.toInt, w)
      else {
        if (n == pos.length) {
          pos = java.util.Arrays.copyOf(pos, n * 2)
          words = java.util.Arrays.copyOf(words, n * 2)
        }
        pos(n) = p.toInt; words(n) = w; n += 1
        if (2L * n >= len) toDense()
      }
    }

    /** Cells of room this fragment holds: its entries while sparse, the
      * whole chunk once dense. */
    def held: Int = if (present == null) n else len

    def full: Boolean = present != null && n == len

    private def set(p: Int, w: Long): Unit = {
      val bit = 1L << p
      if ((present(p >>> 6) & bit) == 0) { present(p >>> 6) |= bit; n += 1 }
      words(p) = w
    }

    private def toDense(): Unit = {
      val (sp, sw, sn) = (pos, words, n)
      pos = null; words = new Array[Long](len)
      present = new Array[Long]((len + 63) >>> 6); n = 0
      var k = 0
      while (k < sn) { set(sp(k), sw(k)); k += 1 }
    }

    /** Drop the sparse buffers' spare capacity before the shuffle. */
    def compact(): Fragment = {
      if (present == null) {
        pos = java.util.Arrays.copyOf(pos, n)
        words = java.util.Arrays.copyOf(words, n)
      }
      this
    }

    def applyTo(out: Array[Long]): Unit =
      if (present == null) {
        var k = 0
        while (k < n) { out(pos(k)) = words(k); k += 1 }
      } else if (n == len) System.arraycopy(words, 0, out, 0, len)
      else {
        var i = 0
        while (i < present.length) {
          var m = present(i)
          while (m != 0) {
            val p = (i << 6) + java.lang.Long.numberOfTrailingZeros(m)
            out(p) = words(p)
            m &= m - 1
          }
          i += 1
        }
      }
  }
}
