package graft.sources

import java.nio.{ByteBuffer, ByteOrder}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** `.npy`-stack source/sink (reference `from_npy_stack`/`to_npy_stack`,
  * `dask_array/io/_from_npy_stack.py:13`, `io/_to_npy_stack.py:13`): a
  * directory of NPY v1 files, one per block along axis 0, named `<blk>.npy`.
  *
  * The NPY header (magic + v1.0 + LE uint16 header length + python-dict
  * literal, '<f8' little-endian float64) is emitted and parsed in pure
  * Scala. Reading follows the reference's two-phase shape: block shapes
  * come from an O(numBlocks) driver pass over the header prefixes (the
  * reference reads `.npy` headers eagerly the same way), the payloads are
  * decoded in one distributed `binaryFile` scan with the block-offset map
  * broadcast — data bytes never touch the driver. All store IO routes
  * through [[StoreIO]] (Hadoop FileSystem), so the stack may live on any
  * configured scheme, not just a driver-shared local filesystem. */
object NpyStack {

  private val Magic: Array[Byte] =
    Array(0x93.toByte, 'N', 'U', 'M', 'P', 'Y')

  /** Serialize a float64 1-d array as NPY v1.0 bytes. */
  def npyBytes(values: Array[Double]): Array[Byte] =
    npyBytesNd(values, Seq(values.length.toLong))

  /** Serialize a C-order float64 block of any shape as NPY v1.0 bytes
    * (numpy's `(n,)` 1-tuple form for rank 1). */
  def npyBytesNd(values: Array[Double], shape: Seq[Long]): Array[Byte] = {
    require(values.length.toLong == shape.product,
      s"${values.length} values for shape $shape")
    val shapeStr =
      if (shape.length == 1) s"(${shape.head},)" else shape.mkString("(", ", ", ")")
    val dict = s"{'descr': '<f8', 'fortran_order': False, 'shape': $shapeStr, }"
    // total header (magic+version+len+dict+pad+\n) must be 64-byte aligned
    val base = Magic.length + 2 + 2
    val pad = (64 - (base + dict.length + 1) % 64) % 64
    val header = dict + (" " * pad) + "\n"
    val buf = ByteBuffer.allocate(base + header.length + values.length * 8)
      .order(ByteOrder.LITTLE_ENDIAN)
    buf.put(Magic).put(1.toByte).put(0.toByte)
    buf.putShort(header.length.toShort)
    buf.put(header.getBytes("ASCII"))
    values.foreach(buf.putDouble)
    buf.array()
  }

  /** Parse NPY v1.0 bytes → values (validates magic/dtype). */
  def parseNpy(bytes: Array[Byte]): Array[Double] = {
    require(bytes.length >= 10 && Magic.indices.forall(i => bytes(i) == Magic(i)),
      "not an NPY file")
    require(bytes(6) == 1, s"unsupported NPY version ${bytes(6)}")
    val buf = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    buf.position(8)
    val hlen = buf.getShort() & 0xffff
    val header = new String(bytes, 10, hlen, "ASCII")
    require(header.contains("'<f8'"), s"only '<f8' supported, got: $header")
    require(header.contains("False"), "fortran_order not supported")
    val n = (bytes.length - 10 - hlen) / 8
    val out = new Array[Double](n)
    buf.position(10 + hlen)
    var i = 0
    while (i < n) { out(i) = buf.getDouble(); i += 1 }
    out
  }

  /** Parse only the element count from a header prefix (first 128 bytes). */
  def parseCount(prefix: Array[Byte]): Long = parseShape(prefix).product

  /** Parse the shape tuple from a header prefix. */
  def parseShape(prefix: Array[Byte]): Seq[Long] = {
    val hlen = ((prefix(9) & 0xff) << 8) | (prefix(8) & 0xff)
    val header = new String(prefix, 10, math.min(hlen, prefix.length - 10), "ASCII")
    val m = "\\(([\\d,\\s]*)\\)".r.findFirstMatchIn(header)
      .getOrElse(throw new IllegalArgumentException(s"no shape in: $header"))
    val dims = "\\d+".r.findAllIn(m.group(1)).map(_.toLong).toSeq
    if (dims.isEmpty) throw new IllegalArgumentException(s"empty shape in: $header")
    dims
  }

  /** Write the element table as a stack of `<blk>.npy` files, `blockSize`
    * elements per file (last file ragged) — the rank-1 case of
    * [[writeNd]].
    *
    * `n` is the logical array length: every block is densified to its
    * exact `[blk*blockSize, min((blk+1)*blockSize, n))` range with values
    * placed by `idx % blockSize` and gaps zero-filled — element tables are
    * sparse (zeros dropped), and positioning by sort order would silently
    * compact gaps and shift every subsequent value. Blocks with no
    * elements at all are written as all-zero files, so read-side offsets
    * stay aligned. */
  def write(elements: DataFrame, dir: String, blockSize: Long, n: Long): Unit =
    writeRows(elements.select(col("idx").as("c0"), col("v")), Seq(n), dir, blockSize)

  /** Write an N-d array as a `.npy` stack split along AXIS 0 (the
    * reference's `to_npy_stack` contract, `io/_to_npy_stack.py:13`:
    * `blockRows` rows of the leading axis per file, each file a full
    * C-order N-d block, last file ragged). Blocks densify through
    * [[ChunkWrite]]; blocks with no surviving elements are written
    * all-zero. */
  def writeNd(nd: graft.NdArray, dir: String, blockRows: Long): Unit =
    writeRows(nd.df, nd.shape, dir, blockRows)

  private def writeRows(cells: DataFrame, shape: Seq[Long], dir: String,
                        blockRows: Long): Unit = {
    val rank = shape.length
    val rest = shape.tail
    val restVol = rest.product
    val sess = cells.sparkSession
    val (fs0, base0) = StoreIO.fsOf(dir, sess.sparkContext.hadoopConfiguration)
    fs0.mkdirs(base0)
    val rows = shape.head
    val restStrides = rest.scanRight(1L)(_ * _).tail
    val pSql = (s"(c0 % $blockRows) * $restVol" +:
      (1 until rank).map(a => s"c$a * ${restStrides(a - 1)}L")).mkString(" + ")
    val inBounds = (0 until rank).map(a => s"c$a >= 0 AND c$a < ${shape(a)}")
      .mkString(" AND ")
    // ship the DRIVER's hadoop conf (carries spark.hadoop.* credentials)
    val bconf = sess.sparkContext.broadcast(
      new SerializableHadoopConf(sess.sparkContext.hadoopConfiguration))
    val lenOf = (b: Long) => math.min((b + 1) * blockRows, rows) - b * blockRows
    ChunkWrite.dense(cells.where(inBounds), s"c0 DIV $blockRows", pSql,
        (rows + blockRows - 1) / blockRows, b => (lenOf(b) * restVol).toInt, 0.0) {
      (b, vals) =>
        val (fs, base) = StoreIO.fsOf(dir, bconf.value.value)
        StoreIO.writeFile(fs, new Path(base, s"$b.npy"), npyBytesNd(vals, lenOf(b) +: rest))
    }
  }

  /** Read an N-d `.npy` stack back as a [[graft.NdArray]]: all trailing
    * extents must agree across blocks. */
  def readNd(s: SparkSession, dir: String): graft.NdArray = {
    val (shapes, flat) = stack(s, dir)
    require(shapes.nonEmpty, s"no .npy blocks under $dir")
    val rest = shapes.head.tail
    shapes.zipWithIndex.foreach { case (sh, b) =>
      require(sh.tail == rest, s"block $b trailing shape ${sh.tail} != $rest")
    }
    graft.NdArray.fromFlat(flat, shapes.map(_.head).sum +: rest)
  }

  /** Read a `.npy` stack back as the element table `(idx, v)`. */
  def read(s: SparkSession, dir: String): DataFrame = stack(s, dir)._2

  /** The stack's block shapes in block order, and its cells as the flat
    * element table `(idx, v)` (blocks concatenated in order, each
    * C-order). Phase 1 (driver, O(numBlocks)): block shapes from the
    * header prefixes. Phase 2 (distributed): payloads decode in one
    * `binaryFile` scan with the block-offset map broadcast. */
  private def stack(s: SparkSession, dir: String): (Seq[Seq[Long]], DataFrame) = {
    import s.implicits._
    val hconf = s.sparkContext.hadoopConfiguration
    val (fs, base) = StoreIO.fsOf(dir, hconf)
    val sorted = StoreIO.listNames(dir, hconf).filter(_.endsWith(".npy")).map { name =>
      val prefix = StoreIO.readPrefix(fs, new Path(base, name), 256)
      (name.stripSuffix(".npy").toLong, parseShape(prefix))
    }.sortBy(_._1)
    require(sorted.map(_._1) == (0L until sorted.size).toSeq,
      s"stack blocks not contiguous (got ids ${sorted.map(_._1)}) — a missing " +
        "block file would silently shift every later index")
    val starts: Map[Long, Long] = sorted.map(_._1).zip(
      sorted.scanLeft(0L) { case (acc, (_, sh)) => acc + sh.product }.dropRight(1)).toMap
    val bc = s.sparkContext.broadcast(starts)
    // pathGlobFilter, NOT an in-path `*.npy` glob: a glob inside load()'s
    // path makes FileStreamSink.hasMetadata probe the literal glob string
    // as a file and log a WARN + stack trace on every read
    val flat = s.read.format("binaryFile").option("pathGlobFilter", "*.npy").load(dir)
      .select(col("path"), col("content"))
      .as[(String, Array[Byte])]
      .flatMap { case (path, content) =>
        val start = bc.value(path.split("/").last.stripSuffix(".npy").toLong)
        parseNpy(content).iterator.zipWithIndex.map { case (v, i) => (start + i, v) }
      }.toDF("idx", "v")
    (sorted.map(_._2), flat)
  }
}
