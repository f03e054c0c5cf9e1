package graft.sources

import java.nio.{ByteBuffer, ByteOrder}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** TileDB dense-array source/sink (reference `from_tiledb`/`to_tiledb`,
  * `dask_array/io/_tiledb.py:12,72`; the reference delegates all byte IO
  * to the `tiledb` library, so its contract is semantic: DENSE arrays
  * only — sparse raises — single attribute, chunks == tile extents, and
  * regular chunking).
  *
  * What TileDB adds beyond the Zarr/NpyStack/Hdf5 stores already here is
  * its MULTI-FRAGMENT model: every write session produces an immutable
  * timestamped fragment covering a subarray, a commit marker makes it
  * visible, and a read at time T merges all committed fragments with
  * newer cells shadowing older ones. That model is exactly what a
  * parallel writer wants at scale — N writers emit N fragments with no
  * coordination, no shared-file append, no driver transit — so the sink
  * here writes ONE FRAGMENT PER BLOCK, and the source performs the
  * shadowing merge as a distributed `max_by(value, (t2, name))` per cell
  * whenever two committed fragments overlap.
  *
  * On-disk layout follows the public TileDB format layout
  * (github.com/TileDB-Inc/TileDB `format_spec`):
  *
  * {{{
  *   uri/
  *     __schema/__<t>_<t>_<uuid>          array schema
  *     __commits/__<t1>_<t2>_<uuid>_21.wrt  commit marker (empty)
  *     __fragments/__<t1>_<t2>_<uuid>_21/   one dir per fragment
  *       __fragment_metadata.tdb
  *       a0.tdb                           attribute cells
  * }}}
  *
  * Like [[Hdf5]]'s superblock-v0 subset, the PAYLOAD encoding is a
  * declared pure-Scala subset, not byte-compatible with libtiledb: the
  * schema and fragment-metadata files carry a little-endian magic-tagged
  * struct (see [[schemaBytes]]/[[fragMetaBytes]]) instead of the
  * library's generic-tile serialization, and `a0.tdb` holds the
  * fragment's float64 cells raw little-endian in row-major subarray
  * order (which for an unfiltered fragment whose tiles span whole rows
  * coincides with TileDB's global cell order). Unknown versions, dtypes,
  * sparse flags and attribute counts are rejected loudly — nothing is
  * ever silently mis-decoded.
  *
  * Scale shape, same as the other connectors: the driver touches only
  * the O(numFragments) manifest (schema + per-fragment metadata); cell
  * payloads move in one distributed `binaryFile` scan; gap cells
  * (outside every fragment's domain) are generated from `spark.range`
  * over driver-computed uncovered intervals, never materialized per cell
  * on the driver.
  */
object TileDb {

  private val SchemaMagic = 0x53424454 // "TDBS" LE
  private val FragMagic = 0x46424454   // "TDBF" LE
  private val Version = 1
  private val FragFormatVersion = 21   // rides in fragment/commit names

  /** Dense-array schema: inclusive per-dim domain, per-dim tile extent.
    * Single float64 attribute `a0`, C layout — the reference's supported
    * surface (`_tiledb.py:55-69` rejects sparse and multi-attr). */
  final case class Schema(shape: Seq[Long], tiles: Seq[Long], fill: Double = 0.0) {
    require(shape.nonEmpty && shape.forall(_ > 0), s"bad shape $shape")
    require(tiles.length == shape.length && tiles.forall(_ > 0),
      s"tile extents $tiles must match rank of $shape")
  }

  def schemaBytes(sc: Schema): Array[Byte] = {
    val buf = ByteBuffer.allocate(4 + 4 + 1 + 1 + 4 + 4 + sc.shape.length * 24 + 8)
      .order(ByteOrder.LITTLE_ENDIAN)
    buf.putInt(SchemaMagic).putInt(Version)
    buf.put(0.toByte)  // array_type: 0 = dense (sparse unsupported, as reference)
    buf.put(0.toByte)  // attr dtype: 0 = float64
    buf.putInt(1)      // nattr
    buf.putInt(sc.shape.length)
    sc.shape.zip(sc.tiles).foreach { case (n, t) =>
      buf.putLong(0L).putLong(n - 1).putLong(t) // domain [0, n-1], extent t
    }
    buf.putDouble(sc.fill)
    buf.array()
  }

  def parseSchema(bytes: Array[Byte]): Schema = {
    val buf = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    require(buf.getInt() == SchemaMagic, "not a graft-subset TileDB schema")
    val v = buf.getInt()
    require(v == Version, s"unsupported schema version $v")
    val arrayType = buf.get()
    require(arrayType == 0, "Sparse TileDB arrays are not supported")
    val dtype = buf.get()
    require(dtype == 0, s"only float64 attributes supported, got dtype code $dtype")
    val nattr = buf.getInt()
    require(nattr == 1,
      "keyword 'attribute' must be provided when loading a multi-attribute TileDB array")
    val rank = buf.getInt()
    val dims = (0 until rank).map { _ =>
      val lo = buf.getLong(); val hi = buf.getLong(); val t = buf.getLong()
      require(lo == 0, s"only zero-based domains supported (got lo=$lo)")
      (hi + 1, t)
    }
    Schema(dims.map(_._1), dims.map(_._2), buf.getDouble())
  }

  /** Fragment metadata: the written subarray as inclusive per-dim
    * [lo, hi] (TileDB's non-empty domain) plus the cell count. */
  def fragMetaBytes(dom: Seq[(Long, Long)]): Array[Byte] = {
    val buf = ByteBuffer.allocate(4 + 4 + 4 + dom.length * 16 + 8)
      .order(ByteOrder.LITTLE_ENDIAN)
    buf.putInt(FragMagic).putInt(Version).putInt(dom.length)
    dom.foreach { case (lo, hi) => buf.putLong(lo).putLong(hi) }
    buf.putLong(dom.map { case (lo, hi) => hi - lo + 1 }.product)
    buf.array()
  }

  def parseFragMeta(bytes: Array[Byte]): Seq[(Long, Long)] = {
    val buf = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    require(buf.getInt() == FragMagic, "not a graft-subset TileDB fragment metadata")
    val v = buf.getInt()
    require(v == Version, s"unsupported fragment metadata version $v")
    val rank = buf.getInt()
    val dom = (0 until rank).map(_ => (buf.getLong(), buf.getLong()))
    val cells = buf.getLong()
    require(cells == dom.map { case (lo, hi) => hi - lo + 1 }.product,
      s"fragment cell count $cells does not match domain $dom")
    dom
  }

  /** Fragment (or schema/commit) name: `__<t1>_<t2>_<uuid32hex>[_v]`.
    * The uuid derives deterministically from (timestamp, the fragment
    * domain's ABSOLUTE start cell) — not a write-relative block index,
    * which would collide when two same-timestamp writes cover different
    * subarrays (write A's block 0 and write B's block 0 would share a
    * name and silently destroy each other). With the absolute start,
    * same-ts writes over DISJOINT subarrays compose safely — the
    * parallel-writer contract; same-ts writes overlapping the same
    * cells still last-write-win at the file level, as any two
    * deterministic writers of identical coordinates must. */
  private def fragName(ts: Long, start: Long): String =
    f"__${ts}%d_${ts}%d_${ts}%016x${start}%016x_$FragFormatVersion%d"

  /** Timestamps + uuid from a fragment dir name. */
  private def parseFragName(name: String): (Long, Long, String) = {
    val m = "__(\\d+)_(\\d+)_([0-9a-f]{32})_(\\d+)".r.findFirstMatchIn(name)
      .getOrElse(sys.error(s"not a TileDB fragment name: $name"))
    require(m.group(4).toInt == FragFormatVersion,
      s"unsupported fragment format version ${m.group(4)} in $name")
    (m.group(1).toLong, m.group(2).toLong, m.group(3))
  }

  // ---------------------------------------------------------------- write

  /** Create (or overwrite) the array schema. Idempotent per uri. */
  def createArray(s: SparkSession, uri: String, schema: Schema, ts: Long = 1L): Unit = {
    val (fs, base) = StoreIO.fsOf(uri, s.sparkContext.hadoopConfiguration)
    fs.mkdirs(new Path(base, "__schema"))
    fs.mkdirs(new Path(base, "__commits"))
    fs.mkdirs(new Path(base, "__fragments"))
    StoreIO.writeFile(fs, new Path(new Path(base, "__schema"), fragName(ts, 0L).stripSuffix(s"_$FragFormatVersion")),
      schemaBytes(schema))
  }

  /** Write the 1-d element table `(idx, v)` into `uri` at logical write
    * timestamp `ts`, restricted to the inclusive subarray [lo, hi]. One
    * FRAGMENT PER BLOCK (block = `blockCells` consecutive cells): this is
    * TileDB's native parallel-write model — immutable subarray fragments
    * plus commit markers — so there is no shared-file append and no data
    * through the driver. Gaps inside [lo, hi] densify to the schema fill
    * value, and blocks with no surviving elements still get a fill
    * fragment (the fragment claims its whole subarray, exactly as a
    * TileDB dense write does). */
  def write(elements: DataFrame, uri: String, ts: Long,
            lo: Long = 0L, hi: Long = -1L, blockCells: Long = 1L << 20): Unit = {
    val sess = elements.sparkSession
    val (fs0, base0) = StoreIO.fsOf(uri, sess.sparkContext.hadoopConfiguration)
    val schema = parseSchema(StoreIO.readFile(fs0, schemaPath(fs0, base0)))
    require(schema.shape.length == 1, s"write() is 1-d; use writeNd for rank ${schema.shape.length}")
    val n = schema.shape.head
    val hi1 = if (hi < 0) n - 1 else hi
    require(lo >= 0 && hi1 < n && lo <= hi1, s"subarray [$lo,$hi1] outside domain [0,${n - 1}]")
    writeBlocks(elements.where(col("idx") >= lo && col("idx") <= hi1), uri, ts, lo,
        blockCells, (hi1 - lo) / blockCells + 1, schema.fill) { blk =>
      val b0 = lo + blk * blockCells
      Seq((b0, math.min(b0 + blockCells - 1, hi1)))
    }
  }

  /** The fragments of one write session: block `blk` holds the flat cells
    * `[lo + blk * blockCells, …)` and claims the subarray `domOf(blk)`,
    * whose volume is its cell count. Densified by [[ChunkWrite]], so every
    * block, touched or not, becomes one committed fragment. */
  private def writeBlocks(cells: DataFrame, uri: String, ts: Long, lo: Long,
                          blockCells: Long, numBlocks: Long, fill: Double)
                         (domOf: Long => Seq[(Long, Long)]): Unit = {
    val sc = cells.sparkSession.sparkContext
    val bconf = sc.broadcast(new SerializableHadoopConf(sc.hadoopConfiguration))
    ChunkWrite.dense(cells, s"(idx - $lo) DIV $blockCells", s"(idx - $lo) % $blockCells",
        numBlocks, blk => domOf(blk).map { case (a, b) => b - a + 1 }.product.toInt, fill) {
      (blk, vals) => writeFragment(uri, bconf.value.value, ts, domOf(blk), vals)
    }
  }

  /** Emit one committed fragment: dir + a0.tdb + metadata + commit marker.
    * The marker is written LAST — a crashed task leaves an uncommitted
    * (invisible) fragment, which is TileDB's own atomicity protocol. */
  private def writeFragment(uri: String, conf: org.apache.hadoop.conf.Configuration,
                            ts: Long, dom: Seq[(Long, Long)],
                            vals: Array[Double]): Unit = {
    val (fs, base) = StoreIO.fsOf(uri, conf)
    val name = fragName(ts, dom.head._1) // absolute start cell/row
    val fdir = new Path(new Path(base, "__fragments"), name)
    fs.mkdirs(fdir)
    val buf = ByteBuffer.allocate(vals.length * 8).order(ByteOrder.LITTLE_ENDIAN)
    vals.foreach(buf.putDouble)
    StoreIO.writeFile(fs, new Path(fdir, "a0.tdb"), buf.array())
    StoreIO.writeFile(fs, new Path(fdir, "__fragment_metadata.tdb"), fragMetaBytes(dom))
    StoreIO.writeFile(fs, new Path(new Path(base, "__commits"), s"$name.wrt"), Array.empty[Byte])
  }

  private def schemaPath(fs: org.apache.hadoop.fs.FileSystem, base: Path): Path = {
    val dir = new Path(base, "__schema")
    val names = fs.listStatus(dir).map(_.getPath.getName).filter(_.startsWith("__"))
    require(names.nonEmpty, s"no TileDB schema under $dir")
    // latest schema wins, as in TileDB evolution — ordered by the PARSED
    // timestamp (a lexicographic sort would put ts=10 before ts=2)
    val latest = names.maxBy { n =>
      ("__(\\d+)_".r.findFirstMatchIn(n).map(_.group(1).toLong).getOrElse(0L), n)
    }
    new Path(dir, latest)
  }

  // ----------------------------------------------------------------- read

  /** Committed fragments only (name, t1, t2, uuid, domain), ascending by
    * (t2, uuid) — the shadowing order. O(numFragments) driver pass. */
  private def fragManifest(s: SparkSession, uri: String): (Schema, Seq[(String, Long, String, Seq[(Long, Long)])]) = {
    val conf = s.sparkContext.hadoopConfiguration
    val (fs, base) = StoreIO.fsOf(uri, conf)
    val schema = parseSchema(StoreIO.readFile(fs, schemaPath(fs, base)))
    val committed = StoreIO.listNames(s"$uri/__commits", conf)
      .filter(_.endsWith(".wrt")).map(_.stripSuffix(".wrt")).toSet
    val fragsDir = new Path(base, "__fragments")
    val frags = (if (fs.exists(fragsDir)) fs.listStatus(fragsDir).toSeq else Seq.empty)
      .map(_.getPath.getName)
      .filter(committed) // uncommitted fragments are invisible
      .map { name =>
        val (_, t2, uuid) = parseFragName(name)
        val dom = parseFragMeta(StoreIO.readFile(fs,
          new Path(new Path(fragsDir, name), "__fragment_metadata.tdb")))
        require(dom.length == schema.shape.length, s"rank mismatch in $name")
        (name, t2, uuid, dom)
      }
      .sortBy { case (_, t2, uuid, _) => (t2, uuid) }
    (schema, frags)
  }

  /** The shadowing merge over decoded `(idx, v, r)` cells: the value from
    * the fragment of greatest rank wins. When no two committed fragments
    * share a cell, every cell has exactly one writer and the merge — a
    * second full exchange — cannot change the answer, so it is skipped. */
  private def shadow(decoded: DataFrame,
                     frags: Seq[(String, Long, String, Seq[(Long, Long)])]): DataFrame =
    if (disjoint(frags.map(_._4))) decoded.select(col("idx"), col("v"))
    else decoded.groupBy("idx").agg(expr("max_by(v, r)").as("v"))

  /** True when no two of the rectangular (inclusive per-dim) domains
    * intersect: a sweep along axis 0 compares each domain only with the
    * earlier ones whose axis-0 range it reaches. */
  private[sources] def disjoint(doms: Seq[Seq[(Long, Long)]]): Boolean = {
    val open = scala.collection.mutable.ArrayBuffer.empty[Seq[(Long, Long)]]
    doms.sortBy(_.head._1).forall { d =>
      open.filterInPlace(_.head._2 >= d.head._1)
      val apart = open.forall(_.zip(d).exists { case ((alo, ahi), (blo, bhi)) =>
        ahi < blo || bhi < alo })
      open += d
      apart
    }
  }

  /** Every committed fragment's cells as `(idx, v, r)`: one distributed
    * `binaryFile` scan over the manifest's `a0.tdb` files, each decoded
    * row-major within its rectangular domain and mapped to the global
    * row-major flat index of `shape`; `r` is the fragment's shadowing
    * rank (manifest order, dense 0..f-1). */
  private def decode(s: SparkSession, uri: String,
                     frags: Seq[(String, Long, String, Seq[(Long, Long)])],
                     shape: Seq[Long]): DataFrame = {
    import s.implicits._
    val strides = shape.scanRight(1L)(_ * _).tail // row-major global strides
    val rankOf: Map[String, (Int, Seq[(Long, Long)])] =
      frags.zipWithIndex.map { case ((name, _, _, dom), r) => name -> (r, dom) }.toMap
    val bc = s.sparkContext.broadcast((rankOf, strides))
    // EXPLICIT file paths from the manifest, not a directory scan:
    // Spark's file index silently drops `_`-prefixed paths (metadata-file
    // convention), which is every TileDB fragment dir — a recursive
    // listing under __fragments reads NOTHING. Explicit leaves also skip
    // the recursive-listing job; the driver already holds the manifest.
    if (frags.isEmpty) s.range(0).selectExpr("id AS idx", "CAST(0 AS DOUBLE) AS v", "0 AS r")
    else s.read.format("binaryFile")
      .load(frags.map { case (name, _, _, _) => s"$uri/__fragments/$name/a0.tdb" }: _*)
      .select(col("path"), col("content"))
      .as[(String, Array[Byte])]
      .flatMap { case (path, content) =>
        val (rk, st) = bc.value
        val fname = path.split("/").dropRight(1).last
        rk.get(fname).iterator.flatMap { case (r, dom) =>
          val ext = dom.map { case (lo, hi) => hi - lo + 1 }
          val sub = ext.scanRight(1L)(_ * _).tail // row-major within subarray
          val buf = ByteBuffer.wrap(content).order(ByteOrder.LITTLE_ENDIAN)
          (0 until content.length / 8).iterator.map { i =>
            var rem = i.toLong; var g = 0L; var d = 0
            while (d < dom.length) {
              val c = dom(d)._1 + rem / sub(d); rem %= sub(d)
              g += c * st(d); d += 1
            }
            (g, buf.getDouble(i * 8), r)
          }
        }
      }.toDF("idx", "v", "r")
  }

  /** Read the dense 1-d array as the element table `(idx, v)`: one
    * distributed `binaryFile` scan over every committed fragment's
    * `a0.tdb`, then the TileDB shadowing merge — the cell value from the
    * fragment with the greatest (t2, uuid) wins — as a `max_by` over a
    * rank computed from the driver's O(numFragments) manifest, skipped
    * when the manifest's domains are pairwise disjoint. Cells no
    * fragment covers surface as the schema fill value, generated from
    * `spark.range` over the driver-merged uncovered intervals. */
  def read(s: SparkSession, uri: String): DataFrame = {
    val (schema, frags) = fragManifest(s, uri)
    require(schema.shape.length == 1, s"read() is 1-d; rank ${schema.shape.length} needs readNd")
    fillGaps(s, shadow(decode(s, uri, frags, schema.shape), frags), frags,
      schema.shape.head, 1L, schema.fill)
  }

  /** `merged` plus `fill`-valued cells for every axis-0 row of `rows` that
    * no fragment covers — the complement of the union of the fragments'
    * axis-0 ranges, each gap one contiguous flat range of `rowVol`-cell
    * rows. */
  private def fillGaps(s: SparkSession, merged: DataFrame,
                       frags: Seq[(String, Long, String, Seq[(Long, Long)])],
                       rows: Long, rowVol: Long, fill: Double): DataFrame = {
    val covered = frags.map(_._4.head).sortBy(_._1)
      .foldLeft(List.empty[(Long, Long)]) {
        case ((alo, ahi) :: rest, (lo, hi)) if lo <= ahi + 1 =>
          (alo, math.max(ahi, hi)) :: rest
        case (acc, iv) => iv :: acc
      }.reverse
    val gaps = ((-1L +: covered.map(_._2)) :+ rows)
      .zip(covered.map(_._1) :+ rows)
      .collect { case (prevHi, nextLo) if nextLo > prevHi + 1 => (prevHi + 1, nextLo) }
    gaps.foldLeft(merged) { case (df, (g0, g1)) =>
      df.unionByName(s.range(g0 * rowVol, g1 * rowVol)
        .select(col("id").as("idx"), lit(fill).as("v")))
    }
  }

  /** Write an N-d array as row-block fragments along axis 0 (subarray =
    * `[r0, r1] × full trailing dims` per block), the same blocking as
    * [[NpyStack.writeNd]] — each block becomes its own fragment. */
  def writeNd(a: graft.NdArray, uri: String, ts: Long, blockRows: Long): Unit = {
    val shape = a.shape
    createArrayIfAbsent(a.df.sparkSession, uri, Schema(shape, blockRows +: shape.tail))
    val strides = shape.scanRight(1L)(_ * _).tail
    val idxSql = shape.indices.map(a => s"c$a * ${strides(a)}L").mkString(" + ")
    val inBounds = shape.indices.map(a => s"c$a >= 0 AND c$a < ${shape(a)}").mkString(" AND ")
    val (nRows, tail) = (shape.head, shape.tail)
    writeBlocks(a.df.where(inBounds).selectExpr(s"($idxSql) AS idx", "v"), uri, ts, 0L,
        blockRows * tail.product, (nRows + blockRows - 1) / blockRows, 0.0) { blk =>
      val r0 = blk * blockRows
      (r0, math.min(r0 + blockRows, nRows) - 1) +: tail.map(d => (0L, d - 1))
    }
  }

  private def createArrayIfAbsent(s: SparkSession, uri: String, schema: Schema): Unit = {
    val (fs, base) = StoreIO.fsOf(uri, s.sparkContext.hadoopConfiguration)
    if (!fs.exists(new Path(base, "__schema"))) createArray(s, uri, schema)
  }

  /** Read an N-d dense array (same manifest + shadowing merge as
    * [[read]]; fragments are rectangular subarrays, decoded row-major
    * within their domain and mapped to global row-major positions). */
  def readNd(s: SparkSession, uri: String): graft.NdArray = {
    val (schema, frags) = fragManifest(s, uri)
    val shape = schema.shape
    val merged = shadow(decode(s, uri, frags, shape), frags)
    // Densify uncovered cells to the schema fill, like the 1-d read():
    // writeNd/tiledbSink fragments span the FULL trailing dims, so the
    // uncovered region is a union of axis-0 row intervals, and a row
    // interval is CONTIGUOUS in row-major flat index — each gap is one
    // cheap range union. A hand-written fragment that is partial in a
    // trailing dim leaves in-row holes this row-interval model cannot
    // see, so such stores must use fill == 0 (absent-cell ≙ 0 is the
    // cell table's native semantics; fill == 0 also skips the unions).
    val rowVol = shape.tail.product
    val fullTail = frags.forall { case (_, _, _, dom) =>
      dom.tail.zip(shape.tail).forall { case ((lo, hi), n) => lo == 0 && hi == n - 1 } }
    require(fullTail || schema.fill == 0.0,
      s"readNd: partial-trailing-dim fragments need fill == 0, schema has ${schema.fill}")
    val dense =
      if (schema.fill == 0.0) merged
      else fillGaps(s, merged, frags, shape.head, rowVol, schema.fill)
    graft.NdArray.fromFlat(dense.select(col("idx"), col("v")), shape)
  }
}
