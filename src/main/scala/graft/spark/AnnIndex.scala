package graft.spark

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** one live section file of a v6 index: path relative to the index dir,
  * section ("lsh" | "ivf"), owning batch, row count, and the [min, max]
  * sort-key range read from its parquet footer. */
private[graft] final case class AnnFile(path: String, section: String, batch: String,
    rows: Long, minKey: Long, maxKey: Long)

/** one committed batch: id, its directory (relative) and row count. */
private[graft] final case class AnnBatch(id: String, dir: String, rows: Long)

/** one immutable snapshot of a v6 index — see the layout comment in
  * [[AnnIndexOps]]. `quant` is loaded from the `quantizer` file, never
  * stored in the manifest itself. */
private[graft] final case class AnnManifest(version: Long, planes: Int, tables: Int,
    quantizer: String, quant: AnnQuantizer, radii: Array[Double], counts: Array[Long],
    batches: Seq[AnnBatch], files: Seq[AnnFile], retired: Seq[String]) {
  def n: Long = batches.map(_.rows).sum
}

/** the binary manifest and quantizer file formats. */
private[spark] object AnnManifest {
  private val Magic = 0x414e4e36 // "ANN6"

  private def encode(body: java.io.DataOutputStream => Unit): Array[Byte] = {
    val bytes = new java.io.ByteArrayOutputStream()
    val o = new java.io.DataOutputStream(bytes)
    o.writeInt(Magic)
    body(o)
    o.close()
    bytes.toByteArray
  }

  private def checkMagic(in: java.io.DataInputStream): Unit =
    require(in.readInt() == Magic, "not a v6 ANN index file — rebuild the index")

  def write(m: AnnManifest): Array[Byte] = encode { o =>
    o.writeLong(m.version); o.writeInt(m.planes); o.writeInt(m.tables)
    o.writeUTF(m.quantizer); o.writeInt(m.radii.length)
    m.radii.foreach(o.writeDouble); m.counts.foreach(o.writeLong)
    o.writeInt(m.batches.length)
    m.batches.foreach { b => o.writeUTF(b.id); o.writeUTF(b.dir); o.writeLong(b.rows) }
    o.writeInt(m.files.length)
    m.files.foreach { f =>
      o.writeUTF(f.path); o.writeUTF(f.section); o.writeUTF(f.batch)
      o.writeLong(f.rows); o.writeLong(f.minKey); o.writeLong(f.maxKey)
    }
    o.writeInt(m.retired.length); m.retired.foreach(o.writeUTF)
  }

  // arguments evaluate left to right, so each constructor reads in order
  def read(in: java.io.DataInputStream, quant: String => AnnQuantizer): AnnManifest = {
    checkMagic(in)
    val (version, planes, tables, qpath, nlist) =
      (in.readLong(), in.readInt(), in.readInt(), in.readUTF(), in.readInt())
    val radii = Array.fill(nlist)(in.readDouble())
    val counts = Array.fill(nlist)(in.readLong())
    val batches = Seq.fill(in.readInt())(AnnBatch(in.readUTF(), in.readUTF(), in.readLong()))
    val files = Seq.fill(in.readInt())(AnnFile(in.readUTF(), in.readUTF(), in.readUTF(),
      in.readLong(), in.readLong(), in.readLong()))
    val retired = Seq.fill(in.readInt())(in.readUTF())
    AnnManifest(version, planes, tables, qpath, quant(qpath), radii, counts, batches, files, retired)
  }

  def writeQuantizer(q: AnnQuantizer): Array[Byte] = encode { o =>
    val dim = q.cents.head.length
    o.writeInt(q.cents.length); o.writeInt(dim)
    q.cents.foreach(_.foreach(o.writeFloat))
    q match {
      case TwoLevelQuantizer(coarse, starts, lens, _) =>
        o.writeInt(coarse.length)
        coarse.indices.foreach { c =>
          coarse(c).foreach(o.writeFloat); o.writeInt(starts(c)); o.writeInt(lens(c))
        }
      case _ => o.writeInt(0)
    }
  }

  def readQuantizer(in: java.io.DataInputStream): AnnQuantizer = {
    checkMagic(in)
    val (nlist, dim) = (in.readInt(), in.readInt())
    val cents = Array.fill(nlist)(Array.fill(dim)(in.readFloat()))
    val cells = Array.fill(in.readInt())(
      (Array.fill(dim)(in.readFloat()), in.readInt(), in.readInt()))
    if (cells.isEmpty) FlatQuantizer(cents)
    else TwoLevelQuantizer(cells.map(_._1), cells.map(_._2), cells.map(_._3), cents)
  }
}

/** a commit staged in its own fresh directory: `writes` put its files
  * there (independent, run concurrently), `publish` makes them live with
  * one exclusive manifest create and returns the manifest now current. A
  * crash after any step is reproduced by not calling the next one. */
private[graft] final case class AnnCommit(writes: Seq[() => Unit], publish: () => AnnManifest)

/** the persisted ANN index (the 100-TB probe path): build / append /
  * compact lifecycle, key-range-pruned LSH + certificate-exact IVF probes,
  * and the cross-engine eval harnesses. See [[TextOps]] and the layout
  * comment below. */
private[spark] trait AnnIndexOps extends AnnCoreOps {
  // ---------- persisted ANN index (the 100-TB probe path) ----------
  //
  // annLsh / annIvfRecall recompute signatures over a full corpus scan per
  // query — fine as build-path witnesses, a non-starter at 100 TB. The
  // production shape is write-once/probe-many: rows sorted by LSH
  // signature and by IVF list id in a persisted parquet index, so a probe
  // reads only the files whose key range meets its probe set.
  //
  // Layout under `indexDir` (v6) — the snapshot/manifest model of the
  // Iceberg table spec in miniature: a file's key range lives in the
  // manifest, not in a directory per key.
  //   _manifest/v<N>        one immutable manifest per commit (build,
  //                         append, compaction), published by ONE exclusive
  //                         atomic create of the next version: a racing
  //                         second writer fails the create and retries its
  //                         merge from the new version
  //   _manifest/version-hint  the last published N (a hint: readers stat
  //                         v<N+1>, v<N+2>, ... forward from it)
  //   data/quantizer-<uid>.bin  driver-written centroids (+ the two-level
  //                         coarse table) — immutable; a rebuild writes a
  //                         new one
  //   data/<batch>-<uid>/lsh/*.parquet  (tbl, sig, vec_id, embedding),
  //                         sorted by (tbl, sig, vec_id)
  //   data/<batch>-<uid>/ivf/*.parquet  (list_id, vec_id, embedding),
  //                         sorted by (list_id, vec_id)
  //
  // A manifest holds planes, tables, the quantizer file, the EXACT
  // per-list max radius and member count (merged at commit), the live
  // batches, and for every live data file its path, row count and min/max
  // sort key (from the file's parquet footer), plus the dirs it retired.
  // Each commit writes into a FRESH directory, so nothing live is ever
  // overwritten: a crash before publish leaves an unreferenced directory,
  // a crash after publish leaves retired files that the next run of the
  // same operation deletes. Readers resolve the latest manifest with one
  // stat and read files by path with the fixed section schema — no
  // directory listing, partition discovery or schema inference; a file
  // deleted under a reader by a concurrent compaction makes the probe
  // re-resolve and retry.
  //
  // The vectors are stored inline in both sections (FAISS-style lists):
  // probe locality beats the 1+L storage multiplier — embeddings are a
  // small fraction of corpus bytes.

  private[spark] final val LshSchema =
    StructType.fromDDL("tbl INT, sig INT, vec_id BIGINT, embedding ARRAY<FLOAT>")
  private[spark] final val IvfSchema =
    StructType.fromDDL("list_id INT, vec_id BIGINT, embedding ARRAY<FLOAT>")

  /** an lsh row's sort key: (tbl, sig) — sig < 2^24, so it packs exactly. */
  private[graft] def lshKey(tbl: Int, sig: Int): Long = (tbl.toLong << 32) | sig

  /** uncompressed bytes per section file: row count and vector size set the
    * file count, not nlist × 2^planes. */
  private final val SectionFileBytes = 128L << 20

  private def filesFor(rows: Long, dim: Int): Int =
    math.max(1L, rows * (4L * dim + 16) / SectionFileBytes + 1).toInt

  private def fsOf(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def manifestPath(indexDir: String, v: Long) = new Path(s"$indexDir/_manifest/v$v")

  private def readFile[T](fs: FileSystem, p: Path)(f: java.io.DataInputStream => T): T = {
    val in = new java.io.DataInputStream(new java.io.BufferedInputStream(fs.open(p)))
    try f(in) finally in.close()
  }

  private def writeFile(fs: FileSystem, p: Path, bytes: Array[Byte], overwrite: Boolean): Unit = {
    val out = fs.create(p, overwrite)
    try out.write(bytes) finally out.close()
  }

  /** exclusive atomic create: the complete file appears under `dst` or the
    * call returns false because `dst` already exists. A hard link on the
    * local filesystem, a rename on HDFS (which refuses an existing
    * destination); either way readers never see a partial manifest. */
  private def createExclusive(fs: FileSystem, dst: Path, bytes: Array[Byte]): Boolean = {
    val tmp = new Path(dst.getParent, s".${dst.getName}-${java.util.UUID.randomUUID()}")
    writeFile(fs, tmp, bytes, overwrite = false)
    try {
      if (fs.getScheme == "file")
        try {
          def local(p: Path) = java.nio.file.Paths.get(fs.makeQualified(p).toUri)
          java.nio.file.Files.createLink(local(dst), local(tmp)); true
        } catch { case _: java.nio.file.FileAlreadyExistsException => false }
      else fs.rename(tmp, dst)
    } finally { fs.delete(tmp, false); () }
  }

  // manifests are immutable, so a cached one is never wrong, only possibly
  // old: [[annIndex]] brings it forward with one stat. Quantizer files are
  // immutable too, keyed by their path.
  private val manifestCache = new java.util.concurrent.ConcurrentHashMap[String, AnnManifest]()
  private val quantCache = new java.util.concurrent.ConcurrentHashMap[String, AnnQuantizer]()

  /** read-through caches stay BOUNDED: past the cap the whole map clears
    * (entries are pure derivations — a clear only costs re-reads). */
  private def putBounded[V](m: java.util.concurrent.ConcurrentHashMap[String, V],
      k: String, v: V, cap: Int = 64): Unit = {
    if (m.size >= cap) m.clear()
    m.put(k, v)
    ()
  }

  /** the latest manifest of `indexDir`, or None when it has none. A cached
    * manifest costs one stat (of the next version); `fresh` re-reads from
    * the version hint — writers always resolve fresh. */
  private[graft] def annIndex(spark: SparkSession, indexDir: String,
      fresh: Boolean = false): Option[AnnManifest] = {
    val fs = fsOf(spark, indexDir)
    val cached = if (fresh) None else Option(manifestCache.get(indexDir))
    var v = cached.map(_.version).getOrElse(try {
      readFile(fs, new Path(s"$indexDir/_manifest/version-hint"))(_.readLong())
    } catch { case scala.util.control.NonFatal(_) => 0L })
    while (fs.exists(manifestPath(indexDir, v + 1))) v += 1
    if (v == 0) { manifestCache.remove(indexDir); None }
    else if (cached.exists(_.version == v)) cached
    else {
      val m = readFile(fs, manifestPath(indexDir, v))(AnnManifest.read(_, q =>
        Option(quantCache.get(s"$indexDir/$q")).getOrElse {
          val quant = readFile(fs, new Path(s"$indexDir/$q"))(AnnManifest.readQuantizer)
          putBounded(quantCache, s"$indexDir/$q", quant)
          quant
        }))
      putBounded(manifestCache, indexDir, m)
      Some(m)
    }
  }

  /** the latest manifest or a "rebuild" error — the version gate of append
    * and compaction, run before any data read. */
  private[spark] def requireIndex(spark: SparkSession, indexDir: String,
      fresh: Boolean = true): AnnManifest =
    annIndex(spark, indexDir, fresh).getOrElse(throw new IllegalArgumentException(
      s"no v$AnnIndexVersion ANN manifest at $indexDir — rebuild the index (buildAnnIndex)"))

  /** run `body` against `first`; a section file deleted under it (a
    * concurrent compaction's cleanup) re-resolves the manifest and retries. */
  private[spark] def retrying[T](spark: SparkSession, indexDir: String,
      first: AnnManifest, tries: Int = 3)(body: AnnManifest => T): T =
    try body(first) catch {
      case e: Exception if tries > 0 && Iterator.iterate[Throwable](e)(_.getCause)
          .takeWhile(_ != null).exists {
            case _: java.io.FileNotFoundException => true
            case a: org.apache.spark.sql.AnalysisException => a.getCondition == "PATH_NOT_FOUND"
            case _ => false
          } =>
        retrying(spark, indexDir, requireIndex(spark, indexDir), tries - 1)(body)
    }

  /** the section files whose key range meets the sorted probe `keys`,
    * read by path with the fixed schema; None when no file can hold one. */
  private[spark] def sectionScan(spark: SparkSession, indexDir: String, m: AnnManifest,
      section: String, keys: Array[Long]): Option[DataFrame] = {
    val files = m.files.filter { f =>
      f.section == section && {
        val i = java.util.Arrays.binarySearch(keys, f.minKey)
        val at = if (i >= 0) i else -i - 1
        at < keys.length && keys(at) <= f.maxKey
      }
    }
    if (files.isEmpty) None
    else Some(spark.read.schema(if (section == "lsh") LshSchema else IvfSchema)
      .parquet(files.map(f => s"$indexDir/${f.path}"): _*))
  }

  /** deletes what manifest `m` retired — idempotent, and the last step of
    * every operation (a no-op re-run included, so a crash between publish
    * and cleanup converges on the re-run). */
  private[graft] def cleanupAnnIndex(spark: SparkSession, indexDir: String, m: AnnManifest): Unit = {
    val fs = fsOf(spark, indexDir)
    m.retired.foreach(p => fs.delete(new Path(s"$indexDir/$p"), true))
  }

  /** a section file's manifest entry from its parquet footer (None when
    * empty). Per-column min/max bound every row's (tbl, sig) key, so the
    * packed range is exact for a single-table file and conservative for
    * one that spans two tables; a file without statistics spans all keys. */
  private def footerEntry(fs: FileSystem, path: Path, rel: String, section: String,
      batch: String): Option[AnnFile] = {
    import scala.jdk.CollectionConverters._
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(path, fs.getConf))
    try {
      val blocks = reader.getFooter.getBlocks.asScala.toSeq
      val rows = blocks.map(_.getRowCount).sum
      def range(column: String): Option[(Long, Long)] = {
        val st = blocks.map(
          _.getColumns.asScala.find(_.getPath.toDotString == column).get.getStatistics)
        def ends(f: org.apache.parquet.column.statistics.Statistics[_] => Any) =
          st.map(s => f(s).asInstanceOf[Integer].longValue)
        if (st.exists(s => s == null || !s.hasNonNullValue)) None
        else Some((ends(_.genericGetMin).min, ends(_.genericGetMax).max))
      }
      if (rows == 0) None
      else {
        val keys = if (section == "ivf") range("list_id")
          else for ((t0, t1) <- range("tbl"); (s0, s1) <- range("sig"))
            yield (lshKey(t0.toInt, s0.toInt), lshKey(t1.toInt, s1.toInt))
        val (lo, hi) = keys.getOrElse((Long.MinValue, Long.MaxValue))
        Some(AnnFile(rel, section, batch, rows, lo, hi))
      }
    } finally reader.close()
  }

  /** publish the commit whose files are under `dir`: its manifest entries
    * come from the new files' footers, then `merge` turns the current
    * manifest into the next one (None: nothing to publish — the staged
    * directory is dropped) and one exclusive create of version+1 makes it
    * live. A lost race re-resolves and re-merges. */
  private def publish(spark: SparkSession, indexDir: String, dir: String, batch: String)(
      merge: (Option[AnnManifest], Seq[AnnFile]) => Option[AnnManifest]): AnnManifest = {
    val fs = fsOf(spark, indexDir)
    val files = Seq("lsh", "ivf").flatMap { s =>
      fs.listStatus(new Path(s"$indexDir/$dir/$s")).map(_.getPath.getName)
        .filter(_.endsWith(".parquet")).sorted
        .flatMap(n => footerEntry(fs, new Path(s"$indexDir/$dir/$s/$n"), s"$dir/$s/$n", s, batch))
    }
    @annotation.tailrec def attempt(): AnnManifest = {
      val base = annIndex(spark, indexDir, fresh = true)
      merge(base, files) match {
        case None =>
          fs.delete(new Path(s"$indexDir/$dir"), true)
          base.get
        case Some(next0) =>
          val next = next0.copy(version = base.fold(1L)(_.version + 1))
          if (!createExclusive(fs, manifestPath(indexDir, next.version), AnnManifest.write(next)))
            attempt()
          else {
            val hint = new java.io.ByteArrayOutputStream()
            new java.io.DataOutputStream(hint).writeLong(next.version)
            writeFile(fs, new Path(s"$indexDir/_manifest/version-hint"), hint.toByteArray,
              overwrite = true)
            putBounded(manifestCache, indexDir, next)
            next
          }
      }
    }
    attempt()
  }

  /** per-list (max member-to-centroid distance, member count) from an
    * assignment frame with (list_id, cdist) columns; lists with no members
    * get radius 0 / count 0. */
  private[spark] def collectRadii(assigned: DataFrame, nlist: Int): (Array[Double], Array[Long]) = {
    val radii = new Array[Double](nlist)
    val counts = new Array[Long](nlist)
    assigned.groupBy(col("list_id"))
      .agg(max(col("cdist")).as("r"), count(lit(1)).as("cnt"))
      .collect().foreach { r =>
        radii(r.getInt(0)) = r.getDouble(1)
        counts(r.getInt(0)) = r.getLong(2)
      }
    (radii, counts)
  }

  /** row-count ceiling for the lifecycle ops' driver fast path: a batch at
    * or under this size (64k vectors ≈ 16-64 MB at typical dims) computes
    * its signatures / assignments / radii on the driver after ONE collect
    * instead of scheduling count + sample + aggregate jobs plus the
    * range-partitioning exchanges of the distributed writer — the same
    * small-input escape as [[CrawlGraphOps.DriverGraphEdgeBudget]]. The
    * written index is IDENTICAL (same per-row sig/assignment math, same
    * quantizer from the same deterministic sample, same sorted rows and
    * radii), so probes cannot tell the paths apart; batches over budget
    * take the distributed path unchanged — the 100-TB shape. */
  final val AnnDriverVecBudget: Int = 1 << 16

  /** one-job small-batch collect: Some(rows) when `vecs` holds at most
    * `budget` rows (CollectLimit stops reading partitions once budget+1
    * rows are found, so an over-budget corpus pays a sliver, not a scan);
    * None → caller runs the distributed path. */
  private def collectIfSmall(vecs: Dataset[(Long, Seq[Float])],
      budget: Int): Option[Array[(Long, Seq[Float])]] = {
    if (budget <= 0) return None
    val head = vecs.limit(budget + 1).collect()
    if (head.length <= budget) Some(head) else None
  }

  /** driver-side [[indexRows]] + [[collectRadii]] for a collected batch:
    * the same per-row math (hyperplane sig per table over the raw vector,
    * l2-normalized nearest-centroid assignment, per-list max distance and
    * member count) and the same sort order as the distributed writer. */
  private def localIndexRows(head: Array[(Long, Seq[Float])], planes: Int,
      quant: AnnQuantizer): (Seq[Row], Seq[Row], (Array[Double], Array[Long])) = {
    val lsh = new Array[(Int, Int, Long, Seq[Float])](head.length * LshTables)
    val ivf = new Array[(Int, Long, Seq[Float])](head.length)
    val radii = new Array[Double](quant.cents.length)
    val counts = new Array[Long](quant.cents.length)
    var i = 0
    while (i < head.length) {
      val (id, v) = head(i)
      var t = 0
      while (t < LshTables) {
        lsh(i * LshTables + t) = (t, hyperplaneSig(v, planes, t), id, v)
        t += 1
      }
      val nv = l2normalize(v)
      val c = quant.assign(nv)
      ivf(i) = (c, id, v)
      val d = math.sqrt(dist2(nv, quant.cents(c)))
      if (d > radii(c)) radii(c) = d
      counts(c) += 1
      i += 1
    }
    (lsh.sortBy(r => (r._1, r._2, r._3)).toSeq.map(r => Row(r._1, r._2, r._3, r._4)),
      ivf.sortBy(r => (r._1, r._2)).toSeq.map(r => Row(r._1, r._2, r._3)), (radii, counts))
  }

  /** the (lsh rows, ivf rows with cdist) signature/assignment frames for a
    * vector set — ONE shared map shape for build, append and compaction. */
  private def indexRows(spark: SparkSession, vecs: Dataset[(Long, Seq[Float])],
      planes: Int, quant: AnnQuantizer): (DataFrame, DataFrame) = {
    import spark.implicits._
    val quantB = spark.sparkContext.broadcast(quant)
    val lsh = vecs.flatMap { case (id, v) =>
      (0 until LshTables).iterator.map(t => (t, hyperplaneSig(v, planes, t), id, v))
    }.toDF("tbl", "sig", "vec_id", "embedding")
    val ivf = vecs.map { case (id, v) =>
      val nv = l2normalize(v)
      val q = quantB.value
      val c = q.assign(nv)
      (c, id, v, math.sqrt(dist2(nv, q.cents(c))))
    }.toDF("list_id", "vec_id", "embedding", "cdist")
    (lsh, ivf)
  }

  /** run independent Spark actions from a small thread pool so the next
    * job's tasks back-fill executors freed by the current job's tail
    * (guide §2.6 — actions are only sequential because driver code calls
    * them sequentially); first failure rethrows after all complete. */
  private[spark] def inParallel(fs: (() => Unit)*): Unit = {
    if (fs.length <= 1) { fs.foreach(_.apply()); return }
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val ts = fs.map { f =>
      new Thread(() => try f() catch { case t: Throwable => errs.add(t); () })
    }
    ts.foreach(_.start())
    ts.foreach(_.join())
    if (!errs.isEmpty) throw errs.peek()
  }

  /** stage one batch into the fresh directory `dir`: its per-list
    * (radius, count), the two section writes (each a few files sorted by
    * the section key — driver rows in contiguous sorted slices, distributed
    * rows range-partitioned), and a release of the distributed path's
    * persisted frames. */
  private def stageBatch(spark: SparkSession, indexDir: String, dir: String, planes: Int,
      quant: AnnQuantizer, vecs: Either[Array[(Long, Seq[Float])], Dataset[(Long, Seq[Float])]])
      : ((Array[Double], Array[Long]), Seq[() => Unit], () => Unit) = {
    val dim = quant.cents.head.length
    vecs match {
      case Left(head) =>
        val (lsh, ivf, rc) = localIndexRows(head, planes, quant)
        def write(rows: Seq[Row], schema: StructType, section: String): () => Unit = () =>
          spark.createDataFrame(
            spark.sparkContext.parallelize(rows, filesFor(rows.length, dim)), schema)
            .write.parquet(s"$indexDir/$dir/$section")
        (rc, Seq(write(lsh, LshSchema, "lsh"), write(ivf, IvfSchema, "ivf")), () => ())
      case Right(ds) =>
        val (lsh, ivf) = indexRows(spark, ds, planes, quant)
        val ivfP = ivf.persist()
        val rc = collectRadii(ivfP, quant.cents.length)
        def write(df: DataFrame, rows: Long, keys: Seq[String], section: String): () => Unit = () =>
          df.repartitionByRange(filesFor(rows, dim), keys.map(col): _*)
            .sortWithinPartitions((keys :+ "vec_id").map(col): _*)
            .write.parquet(s"$indexDir/$dir/$section")
        (rc, Seq(write(lsh, rc._2.sum * LshTables, Seq("tbl", "sig"), "lsh"),
          write(ivfP.drop("cdist"), rc._2.sum, Seq("list_id"), "ivf")),
          () => { ivfP.unpersist(false); ds.unpersist(false); () })
    }
  }

  private def freshDir(batch: String): String = s"data/$batch-${java.util.UUID.randomUUID()}"

  /** write a staged commit's files concurrently, publish, clean up; a
    * no-op (Left: the current manifest) still cleans up. */
  private def finish(spark: SparkSession, indexDir: String,
      staged: Either[AnnManifest, AnnCommit]): Unit =
    cleanupAnnIndex(spark, indexDir, staged.fold(identity, c => {
      inParallel(c.writes: _*)
      c.publish()
    }))

  /** Build the persisted index (initial batch `b0`). Deterministic per
    * (embeddings, params). One pass over the corpus computes both the L
    * LSH signatures and the IVF list id per vector. Quantizer sizing per
    * the round-3 verdict: nlist ~ sqrt(n) ([[nlistFor]]), a
    * 64-samples-per-centroid training sample ([[quantizerSampleSize]]),
    * kmeans++ seeding. Building over an existing index publishes a new
    * version that retires all of the old one. Grow the index afterwards
    * with [[appendAnnIndex]]; retraining the quantizer = rebuild. */
  def buildAnnIndex(spark: SparkSession, emb: DataFrame, indexDir: String,
      planesOverride: Int = 0, nlistOverride: Int = 0,
      driverVecBudget: Int = AnnDriverVecBudget): Unit = {
    import spark.implicits._
    val vecsRaw = emb.select(col("vec_id").as[Long], col("embedding").as[Seq[Float]])
    // small-batch driver fast path (see [[AnnDriverVecBudget]]): one
    // collect replaces the count + sample-collect + radii-aggregate jobs
    val local = collectIfSmall(vecsRaw, driverVecBudget)
    lazy val vecs = vecsRaw.persist()
    val n = local.fold(vecs.count())(_.length.toLong)
    require(n > 0, "buildAnnIndex: empty embeddings frame — nothing to index " +
      "(the quantizer fit needs at least one vector)")
    val planes = if (planesOverride > 0) planesOverride else planesFor(n)
    require(planes >= 1 && planes <= 24,
      s"planes must be in [1, 24] (got $planes): signatures are Int bit masks")
    val nlist = if (nlistOverride > 0) nlistOverride else nlistFor(n)
    // driver fit: deterministic, bounded sample of >= 64 vectors per
    // centroid, fit on the unit sphere (see l2normalize); the local branch
    // picks the SAME members as [[sampleVectors]] (hash-stride filter,
    // id-sorted; first-rows-by-id fallback)
    val quant: AnnQuantizer = local match {
      case _ if nlist > DriverFitMaxNlist => trainTwoLevel(spark, vecs, n, nlist)
      case Some(head) =>
        val target = quantizerSampleSize(n, nlist)
        val stride = math.max(1L, n / target)
        val picked = head.filter(t => math.floorMod(mix64(t._1), stride) == 0L)
        FlatQuantizer(kmeansCentroids((if (picked.nonEmpty) picked.sortBy(_._1)
          else head.sortBy(_._1).take(math.min(target, Int.MaxValue.toLong).toInt))
          .map(x => l2normalize(x._2)), nlist))
      case None => FlatQuantizer(kmeansCentroids(
        sampleVectors(vecs, n, quantizerSampleSize(n, nlist)), nlist))
    }
    val dir = freshDir("b0")
    val qpath = s"data/quantizer-${java.util.UUID.randomUUID()}.bin"
    val (rc, writes, release) = stageBatch(spark, indexDir, dir, planes, quant, local.toLeft(vecs))
    val writeQuant = () => writeFile(fsOf(spark, indexDir), new Path(s"$indexDir/$qpath"),
      AnnManifest.writeQuantizer(quant), overwrite = false)
    finish(spark, indexDir, Right(AnnCommit(writes :+ writeQuant, () => {
      release()
      publish(spark, indexDir, dir, "b0") { (base, files) =>
        Some(AnnManifest(0L, planes, LshTables, qpath, quant, rc._1, rc._2,
          Seq(AnnBatch("b0", dir, n)), files,
          base.toSeq.flatMap(b => b.quantizer +: b.batches.map(_.dir))))
      }
    })))
    if (local.isEmpty || nlist > DriverFitMaxNlist) vecs.unpersist(false)
  }

  /** Append a new vector batch to an existing index — the 100-TB growth
    * path (a training corpus ingests continuously; overwrite-only rebuild
    * is a non-starter). Reuses the index's trained quantizer and planes,
    * writes the batch into its own fresh directory and publishes it with
    * the per-list radii max-merged and counts sum-merged at commit.
    * Exactly-once per `batchId`, like ExtractJob's bucket resume: a batch
    * id already in the manifest is skipped, so re-running an append that
    * published is a no-op and re-running one that crashed before publish
    * simply publishes. Two concurrent appends never lose each other: the
    * loser of the manifest create re-merges onto the winner's version. */
  def appendAnnIndex(spark: SparkSession, emb: DataFrame, indexDir: String,
      batchId: String, driverVecBudget: Int = AnnDriverVecBudget): Unit =
    finish(spark, indexDir, stageAppend(spark, emb, indexDir, batchId, driverVecBudget))

  /** [[appendAnnIndex]] up to its section writes: Left(current manifest)
    * when `batchId` is already committed. */
  private[graft] def stageAppend(spark: SparkSession, emb: DataFrame, indexDir: String,
      batchId: String, driverVecBudget: Int = AnnDriverVecBudget): Either[AnnManifest, AnnCommit] = {
    import spark.implicits._
    require(batchId.nonEmpty && batchId.matches("[A-Za-z0-9._-]+"),
      s"batchId must be a safe directory name (got '$batchId')")
    // reserved names: b0 = the build batch, compacted-* = compaction targets
    require(batchId != "b0" && !batchId.startsWith("compacted-"),
      s"batchId '$batchId' is reserved (b0 = initial build, compacted-* = compaction targets)")
    val snap = requireIndex(spark, indexDir)
    if (snap.batches.exists(_.id == batchId)) return Left(snap)
    val vecsRaw = emb.select(col("vec_id").as[Long], col("embedding").as[Seq[Float]])
    val dir = freshDir(batchId)
    // small-batch driver fast path (see [[AnnDriverVecBudget]]) — works for
    // flat AND two-level quantizers (quant.assign is the same driver code)
    val (rc, writes, release) = stageBatch(spark, indexDir, dir, snap.planes, snap.quant,
      collectIfSmall(vecsRaw, driverVecBudget).toLeft(vecsRaw.persist()))
    Right(AnnCommit(writes, () => {
      release()
      publish(spark, indexDir, dir, batchId) { (base, files) =>
        val b = base.get
        require(b.quantizer == snap.quantizer,
          s"ANN index at $indexDir was rebuilt during the append — re-run it")
        if (b.batches.exists(_.id == batchId)) None // a concurrent twin won
        else Some(b.copy(
          radii = Array.tabulate(b.radii.length)(l => math.max(b.radii(l), rc._1(l))),
          counts = Array.tabulate(b.counts.length)(l => b.counts(l) + rc._2(l)),
          batches = b.batches :+ AnnBatch(batchId, dir, rc._2.sum),
          files = b.files ++ files, retired = Nil))
      }
    }))
  }

  /** Compact every ingested batch into one `compacted-<epoch>` batch — the
    * file-count hygiene pass after many appends. Re-ingests the deduped
    * union of all live vectors through the build/append write path (one
    * layout definition), so the radii come out TIGHT and duplicate
    * re-ingests collapse. The compacted batch is published with one
    * manifest create that retires every folded batch; their directories
    * are deleted after publish. Crash-safe without ordering rules: before
    * publish nothing live changed, after it the old files are merely
    * unreferenced, and re-running the compaction (a no-op once nothing is
    * left to fold) deletes them. An append that publishes during the
    * compaction is kept: the merge folds only the batches it read, keeping
    * counts exact and radii an over-estimate. A concurrent compaction or
    * rebuild makes this one fail — re-run it. */
  def compactAnnIndex(spark: SparkSession, indexDir: String, epoch: String = "0",
      driverVecBudget: Int = AnnDriverVecBudget): Unit =
    finish(spark, indexDir, stageCompact(spark, indexDir, epoch, driverVecBudget))

  /** [[compactAnnIndex]] up to its section writes: Left(current manifest)
    * when the index is already exactly the target batch. */
  private[graft] def stageCompact(spark: SparkSession, indexDir: String, epoch: String = "0",
      driverVecBudget: Int = AnnDriverVecBudget): Either[AnnManifest, AnnCommit] = {
    import spark.implicits._
    require(epoch.nonEmpty && epoch.matches("[A-Za-z0-9._-]+"),
      s"epoch must be a safe directory name (got '$epoch')")
    val target = s"compacted-$epoch"
    val snap = requireIndex(spark, indexDir)
    if (snap.batches.map(_.id) == Seq(target)) return Left(snap)
    // a built index always holds >= 1 vector, so >= 1 ivf file
    val vecsAll = spark.read.schema(IvfSchema)
      .parquet(snap.files.filter(_.section == "ivf").map(f => s"$indexDir/${f.path}"): _*)
      .select(col("vec_id").as[Long], col("embedding").as[Seq[Float]])
    // the manifest's counts are exact, so the budget check costs no job; the
    // driver path dedups keep-first (duplicates are value-identical
    // re-ingests, so any keep choice yields the same rows)
    val vecs = if (driverVecBudget > 0 && snap.n <= driverVecBudget) {
      val seen = new java.util.LinkedHashMap[Long, (Long, Seq[Float])]()
      vecsAll.collect().foreach(r => seen.putIfAbsent(r._1, r))
      Left(seen.values().toArray(new Array[(Long, Seq[Float])](0)))
    } else Right(vecsAll.dropDuplicates("vec_id").persist())
    val dir = freshDir(target)
    val (rc, writes, release) = stageBatch(spark, indexDir, dir, snap.planes, snap.quant, vecs)
    Right(AnnCommit(writes, () => {
      release()
      publish(spark, indexDir, dir, target) { (base, files) =>
        val b = base.get
        require(b.quantizer == snap.quantizer && snap.batches.forall(b.batches.contains),
          s"ANN index at $indexDir changed under the compaction — re-run it")
        val kept = b.batches.filterNot(snap.batches.contains)
        val folded = snap.batches.map(_.id).toSet
        Some(b.copy(
          radii = if (kept.isEmpty) rc._1
            else Array.tabulate(b.radii.length)(l => math.max(b.radii(l), rc._1(l))),
          counts = Array.tabulate(b.counts.length)(l => b.counts(l) - snap.counts(l) + rc._2(l)),
          batches = kept :+ AnnBatch(target, dir, rc._2.sum),
          files = b.files.filterNot(f => folded(f.batch)) ++ files,
          retired = snap.batches.map(_.dir)))
      }
    }))
  }

  /** two-level quantizer training for nlist > [[DriverFitMaxNlist]] —
    * nothing super-linear ever runs on the driver:
    *   1. a coarse codebook of k1 = ceil(sqrt(nlist)) cells trains on the
    *      driver from a 64·k1 sample (k1 <= ~363 at the nlist clamp — a
    *      triviality);
    *   2. the full 64·nlist training sample stays DISTRIBUTED: each
    *      vector maps to its coarse cell, and each cell's fine codebook
    *      of ~nlist/k1 centroids trains executor-side over that cell's
    *      members (flatMapSortedGroups by vec_id + a deterministic cap,
    *      so builds stay reproducible);
    *   3. the flat codebook is the concatenation of the per-cell fine
    *      codebooks — cells keep CONTIGUOUS list-id spans, which is what
    *      makes two-level assignment a span scan.
    * Cells the sample never hit get no lists (their would-be members
    * assign into neighboring cells' lists — radius widens, exactness
    * holds). Driver state: the final codebook, nlist x dim floats. */
  private def trainTwoLevel(spark: SparkSession, vecs: Dataset[(Long, Seq[Float])],
      n: Long, nlist: Int): TwoLevelQuantizer = {
    import spark.implicits._
    val k1 = math.ceil(math.sqrt(nlist.toDouble)).toInt
    val k2 = math.ceil(nlist.toDouble / k1).toInt
    val coarseCents = kmeansCentroids(
      sampleVectors(vecs, n, quantizerSampleSize(n, k1)), k1)
    val cb = spark.sparkContext.broadcast(coarseCents)
    val stride = math.max(1L, n / math.max(1L, 64L * nlist))
    val perCell: Array[(Int, Seq[Seq[Float]])] = vecs
      .filter(t => math.floorMod(mix64(t._1), stride) == 0L)
      .map { case (id, v) => (nearestCentroid(l2normalize(v), cb.value), id, v) }
      .groupByKey(_._1)
      .flatMapSortedGroups(col("_2")) { (cell: Int, it: Iterator[(Int, Long, Seq[Float])]) =>
        // deterministic member order (sorted by vec_id) + cap: executor
        // memory stays bounded even under a pathologically hot cell
        val members = it.take(64 * k2).map(x => l2normalize(x._3): Seq[Float]).toArray
        if (members.isEmpty) Iterator.empty
        else Iterator.single(
          (cell, kmeansCentroids(members.map(_.toArray), k2).map(_.toSeq).toSeq))
      }.collect().sortBy(_._1)
    val starts = new Array[Int](perCell.length)
    val lens = new Array[Int](perCell.length)
    val flat = Array.newBuilder[Array[Float]]
    var at = 0
    perCell.zipWithIndex.foreach { case ((cellId, fine), i) =>
      starts(i) = at
      lens(i) = fine.length
      fine.foreach(c => flat += c.toArray)
      at += fine.length
    }
    // the persisted coarse table keeps only cells WITH lists, re-indexed
    // densely — assignment scans their spans, original cell ids are moot
    TwoLevelQuantizer(perCell.map(pc => cb.value(pc._1)), starts, lens, flat.result())
  }

  /** deterministic quantizer training sample, robust to ARBITRARY vec_id
    * spaces (sparse, offset, all-odd — subset builds are first-class now
    * that [[appendAnnIndex]] exists): membership is decided by
    * `mix64(vec_id)` falling in the stride's zero residue class, which
    * hashes ANY id distribution to a uniform ~target-sized sample — the
    * old `vec_id % stride == 0` filter returned an EMPTY sample whenever
    * the id space avoided the stride multiples (empty sample = driver
    * crash in seeding). Tiny-tail fallback: first `target` rows by id. */
  private[spark] def sampleVectors(vecs: Dataset[(Long, Seq[Float])], n: Long,
      target: Long): Array[Array[Float]] = {
    import vecs.sparkSession.implicits._
    val stride = math.max(1L, n / target)
    val picked = vecs.filter(t => math.floorMod(mix64(t._1), stride) == 0L)
      .collect().sortBy(_._1).map(x => l2normalize(x._2))
    if (picked.nonEmpty) picked
    else vecs.orderBy(col(vecs.columns.head)) // id col: "vec_id" or "_1" by caller shape
      .limit(math.min(target, Int.MaxValue.toLong).toInt)
      .collect().sortBy(_._1).map(x => l2normalize(x._2))
  }

  /** bump on ANY change to signature / quantizer / layout semantics
    * (hyperplaneSig, l2normalize, file layout): a persisted index built by
    * older code must never be probed by newer code.
    * v3: sqrt(n) nlist + kmeans++ quantizer, per-list radius column
    * (exactness certificate), batch partition axis (append mode).
    * v4: radii split out into an append-only batch-partitioned table;
    * hash-based quantizer sampling (arbitrary vec_id spaces).
    * v5: per-list member counts feeding the radius-aware initial probe
    * choice — common case one pruned read.
    * v6: one manifest per commit (exact merged radii + counts, per-file
    * key ranges) over a few sorted files per batch; the meta / centroids /
    * radii / batches tables and the partition directories are gone. */
  final val AnnIndexVersion = 6

  private def deleteRecursively(path: String): Unit = {
    val f = new java.io.File(path)
    if (f.exists()) org.apache.commons.io.FileUtils.deleteDirectory(f)
  }

  /** build-if-absent wrapper keyed by the sf dir (the correctness/bench
    * harness entry — production callers own indexDir lifetimes). Rebuilds
    * when the persisted index predates [[AnnIndexVersion]].
    *
    * Publish is ATOMIC: the index is built into a process-unique temp dir
    * and renamed into place, so two JVMs racing the same missing index
    * (Verify and Bench do exactly this) can never interleave overwrite
    * writes into one dir, and a probe can never read a half-built index —
    * the published path either doesn't exist or is complete. The loser of
    * the publish race keeps the winner's index and discards its own. */
  def ensureAnnIndex(spark: SparkSession, sfDir: String): String = {
    val name = sfDir.replaceAll("[^A-Za-z0-9.]", "_")
    // the raw-path hash disambiguates sfDirs that sanitize identically
    // ("/data/sf_a" vs "/data/sf-a") — a silent key collision would probe
    // whichever corpus built first
    val indexDir = s"${sys.props("java.io.tmpdir")}/graft-ann-v$AnnIndexVersion-$name-" +
      (sfDir.hashCode & 0x7fffffff).toString
    
    // a fresh resolve (no Spark job) also replaces any cached manifest of a
    // deleted index that once lived at this path
    def versionOk: Boolean = try annIndex(spark, indexDir, fresh = true).isDefined
      catch { case scala.util.control.NonFatal(_) => false }
    if (!versionOk) {
      val tmp = s"$indexDir.build-${ProcessHandle.current().pid()}-${System.nanoTime()}"
      buildAnnIndex(spark, spark.read.parquet(s"$sfDir/embeddings.parquet"), tmp)
      val src = java.nio.file.Paths.get(tmp)
      val dst = java.nio.file.Paths.get(indexDir)
      try java.nio.file.Files.move(src, dst, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      catch {
        case scala.util.control.NonFatal(_) =>
          if (versionOk) deleteRecursively(tmp) // lost the race: keep the winner
          else {
            // a stale/old-version dir squats on the name. Replacing it is
            // delete-then-move — NOT atomic — so only ONE process may do
            // it: an atomically-created lock file elects the replacer;
            // everyone else WAITS for a valid index instead of deleting
            // anything (a published complete index is therefore never
            // deleted by a non-elected process — no delete-the-winner
            // window between another JVM's versionOk check and its move).
            val lock = new java.io.File(s"$indexDir.lock")
            val token = s"${ProcessHandle.current().pid()}-${System.nanoTime()}"
            def create(): Boolean = try {
              if (lock.createNewFile()) {
                java.nio.file.Files.writeString(lock.toPath, token)
                true
              } else false
            } catch { case scala.util.control.NonFatal(_) => false }
            // a crashed holder must not wedge recovery forever: a lock
            // older than 10 min is stolen. A LIVE holder heartbeats the
            // lock mtime every 60 s below, so only a genuinely dead holder
            // ever looks stale. The steal is an ATOMIC RENAME (exactly one
            // stealer moves the stale lock aside — delete+create let two
            // waiters both win and the second's deleteRecursively could
            // destroy the first's just-published index), and election is
            // CONFIRMED by re-reading the process token after a settle
            // window, so a create racing the vacated name can't yield two
            // elected processes.
            def steal(): Boolean = {
              val stale = lock.exists() &&
                System.currentTimeMillis() - lock.lastModified() > 600000L
              stale && {
                val aside = new java.io.File(s"${lock.getPath}.stale-$token")
                lock.renameTo(aside) && { aside.delete(); create() }
              }
            }
            def confirmed(): Boolean = try {
              Thread.sleep(150) // let a racing create's write settle
              new String(java.nio.file.Files.readAllBytes(lock.toPath),
                java.nio.charset.StandardCharsets.UTF_8) == token
            } catch { case scala.util.control.NonFatal(_) => false }
            if ((create() || steal()) && confirmed()) {
              val heartbeat = new Thread(() => {
                try while (!Thread.interrupted()) {
                  Thread.sleep(60000L)
                  lock.setLastModified(System.currentTimeMillis()); ()
                } catch { case _: InterruptedException => () }
              }, s"ann-lock-heartbeat-${lock.getName}")
              heartbeat.setDaemon(true)
              heartbeat.start()
              try {
                if (!versionOk) { // re-check under the lock
                  deleteRecursively(indexDir)
                  // a fresh builder (not in this recovery branch) may land
                  // its first move into the vacated name during our
                  // window — its index is complete, so keep it
                  try java.nio.file.Files.move(src, dst,
                    java.nio.file.StandardCopyOption.ATOMIC_MOVE)
                  catch {
                    case scala.util.control.NonFatal(e) =>
                      if (versionOk) deleteRecursively(tmp) else throw e
                  }
                } else deleteRecursively(tmp)
              } finally { heartbeat.interrupt(); lock.delete(); () }
            } else {
              // another process is replacing the squatter: wait it out
              val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
              while (!versionOk && System.nanoTime() < deadline) Thread.sleep(200)
              deleteRecursively(tmp)
              require(versionOk,
                s"ANN index recovery at $indexDir did not complete within 120 s")
            }
          }
      }
    }
    indexDir
  }

}
