package graft.perfbench

import graft.spark._
import org.apache.spark.sql.{Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** What a run hands each workload. */
final case class Env(spark: SparkSession, seed: Long, work: String, cores: Int,
                     tiny: Boolean, plantWrong: Boolean, trace: Boolean)

/** A metric under the name the benchmark's docs use for it. */
final case class Named(name: String, value: Double, unit: String, better: String,
                       n: Int = 0, tail: Option[(Int, Double)] = None)

/** One closed-loop workload: a set-up that builds its inputs and tables,
  * and a cycle of timed calls, each checked against an oracle. */
abstract class Workload(val env: Env) {
  protected val spark: SparkSession = env.spark
  def name: String
  /** The call whose items per second is `bulk_per_s`. */
  def bulkKind: String
  /** The call whose median latency is `point_p50_ms`. */
  def pointKind: String
  /** Build this pass's inputs and tables under `work/<name>/p<pass>`. The
    * run measures on the last pass. */
  def setup(pass: Int): Unit
  /** Compute the expected answers for the last pass's tables, once and
    * untimed: checking is the benchmark's cost, not the engine's. */
  def prepareChecks(): Unit = ()
  def cycle(i: Int, l: Ledger): Unit
  /** Bytes stored per item (token or row) of the measured tables. */
  def bytesPerItem: Double
  /** The workload's metrics under their own names. */
  def named(l: Ledger): Seq[Named]
  /** Traced-only calls into a single layer, run once after the loop. */
  def probe(l: Ledger): Unit = ()
  /** Per-layer metrics only this workload can move. */
  def layers(traces: Seq[CallTrace]): Map[String, Double]
  /** Untimed cycles before the loop: a fixed count, so a seed always
    * times the same calls, and enough that the JIT has compiled the
    * calls' driver-side code (their times level off after it). */
  def warmupCycles: Int = 2
  /** Remove a set-up pass's data. */
  def cleanup(pass: Int): Unit = Inputs.rmrf(passDir(pass))

  private var plantArmed = env.plantWrong

  /** In the self-test, the first check that asks gets a wrong expected count. */
  protected def planted(n: Long): Long =
    if (plantArmed) { plantArmed = false; n + 1 } else n
  protected def passDir(pass: Int): String = s"${env.work}/$name/p$pass"

  protected def timing(l: Ledger, kind: String, metric: String, scale: Double,
                       unit: String): Named = {
    val xs = l.secs(kind).map(_ * scale)
    Named(metric, Stats.median(xs), unit, "lower", xs.size, Stats.tail(xs))
  }

  protected def rate(l: Ledger, kind: String, metric: String, unit: String): Named = {
    val xs = l.rates(kind)
    Named(metric, Stats.median(xs), unit, "higher", xs.size)
  }

  protected def medianOf(traces: Seq[CallTrace], kind: String)(f: CallTrace => Double): Double = {
    val xs = traces.filter(_.span.name == kind).map(f)
    if (xs.isEmpty) 0.0 else Stats.median(xs)
  }

  protected def long(r: Row, i: Int): Long = if (r.isNullAt(i)) 0L else r.getLong(i)
}

object Workload {
  val Names: Seq[String] = Seq("ingest", "read", "table_ops", "generic")

  def apply(name: String, env: Env): Workload = name match {
    case "ingest" => new Ingest(env)
    case "read" => new Read(env)
    case "table_ops" => new TableOps(env)
    case "generic" => new Generic(env)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (have ${Names.mkString(", ")})")
  }
}

/** Repeated checkpointed encodes of one token table, each into a fresh
  * directory, plus a small batch that shows the fixed cost of a commit.
  * Nothing decodes: the bypass for every read-side change. */
final class Ingest(env: Env) extends Workload(env) {
  val name = "ingest"
  val bulkKind = "encode_checkpointed"
  val pointKind = "encode_checkpointed_small"
  private val rows = if (env.tiny) 2000L else 30000L
  private val smallRows = if (env.tiny) 200L else 1000L
  private var dir = ""
  /** input name -> (rows, tokens) */
  private var expected = Map.empty[String, (Long, Long)]
  private val bytesPerToken = mutable.Map[String, Double]()

  def setup(pass: Int): Unit = {
    dir = passDir(pass)
    val off = Inputs.rowOffset(env.seed)
    expected = Seq("bulk" -> (off, rows), "small" -> (off + rows, smallRows)).map {
      case (input, (from, n)) =>
        Inputs.tokenRows(spark, from, n, env.cores).write.parquet(s"$dir/$input")
        val r = Inputs.fp(spark.read.parquet(s"$dir/$input"), Seq(count(lit(1)), sum("n_tok")))
        input -> ((r.getLong(0), r.getLong(1)))
    }.toMap
    bytesPerToken.clear()
  }

  private def source(input: String): Dataset[TokenRow] = {
    import spark.implicits._
    spark.read.parquet(s"$dir/$input").as[TokenRow]
  }

  private def pass(l: Ledger, kind: String, input: String, i: Int): Unit = {
    val out = s"$dir/out-$input-$i"
    val (n, tokens) = expected(input)
    l.call(kind)(EncodePipeline.encodeCheckpointed(spark, source(input), env.cores, out).collect())(
      _ => tokens.toDouble, m => checkPass(m, out, kind, n, tokens))
    Inputs.rmrf(out)
  }

  /** The returned partition metrics must cover every input row and token
    * and agree with the payload sizes of the chunks on disk; bytes per
    * token must repeat exactly from pass to pass. */
  private def checkPass(m: Array[Row], out: String, kind: String, n: Long, tokens: Long): Boolean = {
    val mRows = m.map(_.getAs[Long]("num_rows")).sum
    val mTokens = m.map(_.getAs[Long]("num_tokens")).sum
    val mBytes = m.map(_.getAs[Long]("enc_bytes")).sum
    val onDisk = spark.read.parquet(s"$out/chunks").agg(
      sum(length(col("tokens_bin")) + length(col("lens_bin")) + length(col("docid_bin")) +
        length(col("source_bin")) + length(col("tokens_bloom"))),
      sum("num_tokens")).head()
    val bpt = mBytes.toDouble / mTokens
    val same = bytesPerToken.getOrElseUpdate(kind, bpt) == bpt
    m.forall(_.getAs[String]("status") == "ok") && mRows == planted(n) && mTokens == tokens &&
      onDisk.getLong(0) == mBytes && onDisk.getLong(1) == tokens && same
  }

  def cycle(i: Int, l: Ledger): Unit = {
    pass(l, bulkKind, "bulk", i)
    pass(l, pointKind, "small", i)
  }

  def bytesPerItem: Double = bytesPerToken(bulkKind)

  def named(l: Ledger): Seq[Named] = Seq(
    rate(l, bulkKind, "ingest_tok_per_s", "tok/s"),
    Named("bytes_per_token", bytesPerItem, "B/tok", "lower"),
    timing(l, pointKind, "ingest_small_p50_ms", 1e3, "ms"))

  /** The mass-balanced bounds and the bare encode-and-write, timed apart
    * from the checkpointed encode that wraps them. */
  override def probe(l: Ledger): Unit = {
    val (_, tokens) = expected("bulk")
    for (i <- 0 until 2) {
      val bounds = l.call("bounds")(EncodePipeline.massBalancedBounds(source("bulk"), env.cores))(
        _ => tokens.toDouble, b => b.toSeq == b.toSeq.sorted)
      val out = s"$dir/probe-$i"
      l.call("encode")(EncodePipeline.encode(source("bulk"), env.cores, boundsOverride = bounds)
        .write.option("compression", EncodePipeline.ChunkTableCompression).parquet(out))(
        _ => tokens.toDouble,
        _ => spark.read.parquet(out).agg(sum("num_tokens")).head().getLong(0) == tokens)
      Inputs.rmrf(out)
    }
  }

  def layers(traces: Seq[CallTrace]): Map[String, Double] = Map(
    "EncodePipeline.bounds_s" -> medianOf(traces, "bounds")(_.wallMs / 1e3),
    "EncodePipeline.encode_s" -> medianOf(traces, "encode")(_.wallMs / 1e3),
    "EncodePipeline.checkpoint_s" -> medianOf(traces, bulkKind)(_.wallMs / 1e3))
}

/** Static tables of both chunk plans, read many ways: a token chunk table
  * by full scans, doc_id-only scans, token searches and row seeks, and a
  * generic lineitem table by the read calls of [[Generic]]. Encode does no
  * work in the loop. */
final class Read(env: Env) extends Workload(env) {
  val name = "read"
  val bulkKind = "scan"
  val pointKind = "seek"
  private val SearchKinds = Seq("search_head", "search_rare", "search_absent")
  private val rows = if (env.tiny) 2000L else 60000L
  private val SeekRows = 100
  /** Every search and seek takes the next value of its pool, so no call
    * reuses the plan of an earlier one within a run. */
  private val LookupPool = 24
  private val SeekPool = 64
  private val lineitem = new Generic(env.copy(plantWrong = false), readOnly = true)
  private var dir = ""
  private var fpAll: Row = _
  /** search kind -> lookup ids */
  private var lookups = Map.empty[String, IndexedSeq[Int]]
  private var hits = Map.empty[Int, (Long, Long)]
  private var docIds = Array.empty[String]
  private var offsets = IndexedSeq.empty[Long]
  private var bpt = 0.0
  private var holders = Map.empty[Int, Long]
  private var index = Array.empty[(Long, Int)]
  private var nextLookup = 0
  private var nextSeek = 0
  private var holdersSearched = 0L

  def setup(pass: Int): Unit = {
    dir = passDir(pass)
    val src = Inputs.tokenRows(spark, Inputs.rowOffset(env.seed), rows, env.cores)
    val metrics = EncodePipeline.encodeCheckpointed(spark, src, env.cores, s"$dir/ck")
      .agg(sum("enc_bytes"), sum("num_tokens")).head()
    bpt = metrics.getLong(0).toDouble / metrics.getLong(1)
    lineitem.setup(pass)
  }

  override def prepareChecks(): Unit = {
    import spark.implicits._
    val rng = new scala.util.Random(env.seed)
    val src = Inputs.tokenRows(spark, Inputs.rowOffset(env.seed), rows, env.cores).toDF().cache()
    // rows, row-hash XOR, tokens, doc_id-hash XOR
    fpAll = Inputs.fp(src, Inputs.TokenFingerprint :+ bit_xor(xxhash64(col("doc_id"))))
    // a third frequent vocabulary ids, a third rare ones, a third (almost
    // surely) absent: a search costs the same whichever it gets
    lookups = SearchKinds.zip(Seq(() => rng.nextInt(64), () => 40000 + rng.nextInt(10000),
      () => (1 << 30) + rng.nextInt(1 << 30))).map { case (k, draw) =>
      k -> IndexedSeq.fill(LookupPool)(draw())
    }.toMap
    // plain-Spark oracle: the rows whose tokens contain each lookup id
    val found = src.select(col("doc_id"),
      explode(array_intersect(col("tokens"), typedLit(lookups.values.flatten.toSeq.distinct))).as("t"))
    hits = found.groupBy("t").agg(count(lit(1)), bit_xor(xxhash64(col("doc_id")))).collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    docIds = src.select("doc_id").orderBy("doc_id").as[String].collect()
    offsets = IndexedSeq.fill(SeekPool)(rng.nextLong(rows - SeekRows + 1))
    if (env.trace) {
      val meta = spark.read.parquet(s"$dir/ck/chunks")
        .select("part_id", "chunk_id", "first_doc_id", "last_doc_id")
      holders = found.join(broadcast(meta),
          col("doc_id") >= col("first_doc_id") && col("doc_id") <= col("last_doc_id"))
        .groupBy("t").agg(countDistinct(col("part_id"), col("chunk_id"))).collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
      index = spark.read.parquet(s"$dir/ck/row_index").select("row_start", "num_rows").collect()
        .map(r => (r.getLong(0), r.getInt(1)))
    }
    src.unpersist()
    lineitem.prepareChecks()
  }

  override def cleanup(pass: Int): Unit = {
    super.cleanup(pass)
    lineitem.cleanup(pass)
  }

  private def chunks = {
    import spark.implicits._
    spark.read.parquet(s"$dir/ck/chunks").as[EncodedChunk]
  }

  private def same(r: Row, want: Row, n: Int): Boolean =
    (0 until n).forall(i => long(r, i) == long(want, i))

  def cycle(i: Int, l: Ledger): Unit = {
    val ops = new scala.util.Random(env.seed * 7919 + i)
      .shuffle(Seq("scan", "scan", "scan_docid", "seek", "seek") ++ SearchKinds)
    ops.foreach {
      case "scan" =>
        l.collect("scan")(EncodePipeline.decodeDF(chunks).agg(
          Inputs.TokenFingerprint.head, Inputs.TokenFingerprint.tail: _*))(
          _ => long(fpAll, 2).toDouble,
          r => long(r(0), 0) == planted(long(fpAll, 0)) && same(r(0), fpAll, 3))
      case "scan_docid" =>
        val f = Inputs.fingerprint("doc_id")
        l.collect("scan_docid")(EncodePipeline.decodeDF(chunks, Seq("doc_id")).agg(f.head, f.tail: _*))(
          _ => long(fpAll, 0).toDouble,
          r => long(r(0), 0) == long(fpAll, 0) && long(r(0), 1) == long(fpAll, 3))
      case "seek" =>
        val off = offsets(nextSeek % offsets.size)
        nextSeek += 1
        l.collect("seek")(EncodePipeline.seekToRows(chunks, off, SeekRows,
          Some(spark.read.parquet(s"$dir/ck/row_index"))))(_ => SeekRows.toDouble, got => checkSeek(got, off))
      case search =>
        val id = lookups(search)(nextLookup % LookupPool)
        if (search == SearchKinds.last) nextLookup += 1
        if (l.tracing) holdersSearched += holders.getOrElse(id, 0L)
        val f = Inputs.fingerprint("doc_id")
        l.collect(search)(EncodePipeline.searchToken(chunks, id).toDF("doc_id").agg(f.head, f.tail: _*))(
          _ => 1.0, r => (long(r(0), 0), long(r(0), 1)) == hits.getOrElse(id, (0L, 0L)))
    }
    lineitem.cycle(i, l)
  }

  /** The rows at those offsets of the doc_id-ordered table, exactly as
    * the generator made them. */
  private def checkSeek(got: Array[TokenRow], off: Long): Boolean =
    got.map(_.doc_id).sorted.sameElements(docIds.slice(off.toInt, off.toInt + SeekRows)) &&
      got.forall { r =>
        val g = TokenTableGen.genRow(Inputs.indexOf(r.doc_id))
        g.doc_id == r.doc_id && java.util.Arrays.equals(g.tokens, r.tokens) &&
          g.n_tok == r.n_tok && g.source == r.source
      }

  def bytesPerItem: Double = bpt

  def named(l: Ledger): Seq[Named] = Seq(
    rate(l, "scan", "scan_tok_per_s", "tok/s"),
    rate(l, "scan_docid", "scan_docid_rows_per_s", "rows/s"),
    timing(l, "search_head", "search_head_p50_ms", 1e3, "ms"),
    timing(l, "search_rare", "search_rare_p50_ms", 1e3, "ms"),
    timing(l, "search_absent", "search_absent_p50_ms", 1e3, "ms"),
    timing(l, "seek", "seek_p50_ms", 1e3, "ms"),
    Named("table_bytes_per_token", bpt, "B/tok", "lower")) ++ lineitem.named(l)

  override def probe(l: Ledger): Unit = lineitem.probe(l)

  def layers(traces: Seq[CallTrace]): Map[String, Double] = {
    val searches = traces.filter(t => SearchKinds.contains(t.span.name))
    val survivors = searches.map(_.plan.getOrElse("chunks_after_prune", 0.0)).sum
    Map(
      "EncodePipeline.decode_s" -> medianOf(traces, "scan")(_.wallMs / 1e3),
      "EncodePipeline.decode_docid_s" -> medianOf(traces, "scan_docid")(_.wallMs / 1e3),
      "EncodePipeline.chunks_per_seek" -> offsets.map { off =>
        index.count { case (start, n) => start < off + SeekRows && start + n > off }.toDouble
      }.sum / offsets.size,
      "plans.chunks_after_prune" -> (if (searches.isEmpty) 0.0 else survivors / searches.size),
      "plans.prune_waste" -> (if (holdersSearched == 0) 0.0 else survivors / holdersSearched)) ++
      lineitem.layers(traces)
  }
}

/** One snapshot table under writes and reads: each cycle compacts, then
  * upserts ~1% of the rows (half of them replacing live doc_ids), deletes
  * a doc_id range and reads the merged rows back. One write round per
  * compaction keeps every call of a kind on the same table state. */
final class TableOps(env: Env) extends Workload(env) {
  val name = "table_ops"
  val bulkKind = "read_rows"
  val pointKind = "upsert"
  private val rows = if (env.tiny) 2000 else 12000
  private val upsertRows = rows / 100
  private val deleteRows = rows / 200
  private var dir = ""
  private var version = 0
  private var nextIndex = 0L
  private var rng = new scala.util.Random(0)
  /** The plain model of the table: doc_id -> (n_tok, row hash). */
  private val model = new java.util.TreeMap[String, (Int, Long)]()
  private val bytesPerToken = mutable.ArrayBuffer[Double]()
  private val snapshots = mutable.ArrayBuffer[SnapshotLog.Snapshot]()
  override def warmupCycles: Int = 3

  private def hashed(ds: Dataset[TokenRow]): Array[(String, Int, Long)] = {
    import spark.implicits._
    ds.select(col("doc_id"), col("n_tok"), xxhash64(col("doc_id"), col("tokens"), col("source")))
      .as[(String, Int, Long)].collect()
  }

  def setup(pass: Int): Unit = {
    dir = passDir(pass)
    rng = new scala.util.Random(env.seed)
    val off = Inputs.rowOffset(env.seed)
    val src = Inputs.tokenRows(spark, off, rows, env.cores)
    EncodePipeline.encode(src, env.cores).write
      .option("compression", EncodePipeline.ChunkTableCompression).parquet(s"$dir/chunks")
    version = SnapshotLog.commit(spark, dir, "append")
  }

  override def prepareChecks(): Unit = {
    val off = Inputs.rowOffset(env.seed)
    model.clear()
    hashed(Inputs.tokenRows(spark, off, rows, env.cores)).foreach { case (d, n, h) => model.put(d, (n, h)) }
    nextIndex = off + rows
    bytesPerToken.clear()
    snapshots.clear()
  }

  private def modelTokens: Long = model.values.asScala.map(_._1.toLong).sum

  /** Half new doc_ids, half live doc_ids with new content. */
  private def upsertBatch(): Seq[TokenRow] = {
    val keys = model.keySet.asScala.toIndexedSeq
    val batch = (0 until upsertRows).map { k =>
      val fresh = TokenTableGen.genRow(nextIndex + k)
      if (k % 2 == 0) fresh else fresh.copy(doc_id = keys(rng.nextInt(keys.size)))
    }
    nextIndex += upsertRows
    batch.groupBy(_.doc_id).values.map(_.head).toSeq
  }

  def cycle(i: Int, l: Ledger): Unit = {
    l.call("compact")(SnapshotLog.compactTable(spark, dir))(_ => modelTokens.toDouble, _ == version + 1)
      .foreach { v =>
        version = v
        bytesPerToken += SnapshotLog.snapshot(spark, dir, v).bytes.toDouble / modelTokens
      }
    writeAndRead(l)
  }

  private def writeAndRead(l: Ledger): Unit = {
    import spark.implicits._
    val batch = upsertBatch()
    val ds = spark.createDataset(batch)
    val batchHashes = hashed(ds)
    l.call("upsert")(SnapshotLog.upsert(spark, dir, ds))(
      _ => batch.map(_.n_tok.toDouble).sum, _ == version + 1).foreach(version = _)
    batchHashes.foreach { case (d, n, h) => model.put(d, (n, h)) }

    val keys = model.keySet.asScala.toIndexedSeq
    val j = rng.nextInt(keys.size - deleteRows)
    val (lo, hi) = (keys(j), keys(j + deleteRows - 1))
    l.call("delete")(SnapshotLog.deleteWhere(spark, dir, col("doc_id").between(lo, hi)))(
      _ => deleteRows.toDouble, _ == version + 1).foreach(version = _)
    model.subMap(lo, true, hi, true).clear()

    if (env.trace) snapshots += SnapshotLog.snapshot(spark, dir, version)
    val live = model.values.asScala
    val want = (planted(model.size.toLong), live.foldLeft(0L)(_ ^ _._2), live.map(_._1.toLong).sum)
    l.collect("read_rows")(SnapshotLog.readRows(spark, dir).toDF().agg(
      Inputs.TokenFingerprint.head, Inputs.TokenFingerprint.tail: _*))(
      r => long(r(0), 2).toDouble, r => (long(r(0), 0), long(r(0), 1), long(r(0), 2)) == want)
  }

  def bytesPerItem: Double = Stats.median(bytesPerToken.toSeq)

  def named(l: Ledger): Seq[Named] = Seq(
    timing(l, "upsert", "upsert_p50_ms", 1e3, "ms"),
    timing(l, "delete", "delete_p50_ms", 1e3, "ms"),
    rate(l, "read_rows", "merge_read_tok_per_s", "tok/s"),
    timing(l, "compact", "compact_p50_s", 1.0, "s"),
    Named("table_bytes_per_token", bytesPerItem, "B/tok", "lower"))

  def layers(traces: Seq[CallTrace]): Map[String, Double] = {
    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    val tableBytes = med(snapshots.map(_.bytes.toDouble).toSeq)
    Map(
      "SnapshotLog.upsert_s" -> medianOf(traces, "upsert")(_.wallMs / 1e3),
      "SnapshotLog.delete_s" -> medianOf(traces, "delete")(_.wallMs / 1e3),
      "SnapshotLog.read_rows_s" -> medianOf(traces, "read_rows")(_.wallMs / 1e3),
      "SnapshotLog.compact_s" -> medianOf(traces, "compact")(_.wallMs / 1e3),
      "SnapshotLog.files" -> med(snapshots.map(_.numFiles.toDouble).toSeq),
      "SnapshotLog.delete_files" -> med(snapshots.map(_.deletes.size.toDouble).toSeq),
      "SnapshotLog.table_bytes" -> tableBytes,
      "SnapshotLog.delete_file_reads" ->
        medianOf(traces, "read_rows")(_.plan.getOrElse("delete_file_reads", 0.0)),
      "SnapshotLog.rewrite_amp" -> (if (tableBytes == 0) 0.0
        else medianOf(traces, "compact")(_.counters.outputBytes.toDouble) / tableBytes),
      "SnapshotLog.compact_jobs" -> medianOf(traces, "compact")(_.counters.jobs.toDouble))
  }
}

/** A lineitem table through the generic chunk plan: encode and write it,
  * scan it whole and by two columns, and run SQL filters on the registered
  * table: four orderkey ranges and two shipdate windows per cycle.
  *
  * With `readOnly` (the lineitem half of [[Read]]) the loop scans the
  * static table built in set-up and encodes nothing; the encode is timed
  * in the traced run's probe instead. */
final class Generic(env: Env, readOnly: Boolean = false) extends Workload(env) {
  val name = "generic"
  val bulkKind = "lineitem_encode"
  val pointKind = "lineitem_filter"
  private val rows = if (env.tiny) 20000L else if (readOnly) 60000L else 200000L
  private val All = Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
    "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus", "l_shipdate")
  private val Two = Seq("l_orderkey", "l_extendedprice")
  private var dir = ""
  private var fpAll: Row = _
  private var fpTwo: Row = _
  /** Orderkey ranges, which chunk stats prune, then shipdate windows,
    * which they cannot: the two kinds are timed apart. Each filter takes
    * the next value of its pool, so no call reuses an earlier plan. */
  private var filters = IndexedSeq.empty[String]
  private val KeyFilters = 32
  private val Windows = 16
  private var filterOracle = IndexedSeq.empty[(Long, Long)]
  private var nextFilter = 0
  private val encBytesPerRow = mutable.ArrayBuffer[Double]()

  def setup(pass: Int): Unit = {
    dir = passDir(pass)
    Inputs.lineItems(spark, Inputs.rowOffset(env.seed), rows, env.cores).write.parquet(s"$dir/src")
    GenericEncode.encodeWrite(spark.read.parquet(s"$dir/src"), s"$dir/static")
    GraftTables.registerGenericTable(spark, "lineitem", s"$dir/static")
  }

  override def prepareChecks(): Unit = {
    val rng = new scala.util.Random(env.seed)
    val off = Inputs.rowOffset(env.seed)
    val src = spark.read.parquet(s"$dir/src")
    fpAll = Inputs.fp(src, Inputs.fingerprint(All: _*))
    fpTwo = Inputs.fp(src, Inputs.fingerprint(Two: _*))
    val firstKey = off / 4 + 1
    val keySpan = rows / 4
    filters = (Seq.fill(KeyFilters) {
      val lo = firstKey + rng.nextLong(keySpan)
      s"l_orderkey BETWEEN $lo AND ${lo + keySpan / 200}"
    } ++ Seq.fill(Windows) {
      val d = java.time.LocalDate.of(1992, 1, 2).plusDays(rng.nextInt(2370).toLong)
      s"l_shipdate >= TIMESTAMP'$d 00:00:00' AND l_shipdate < TIMESTAMP'${d.plusDays(30)} 00:00:00'"
    }).toIndexedSeq
    // every filter's oracle in one pass over the parquet source
    val h = xxhash64(Two.map(col): _*)
    val aggs = filters.flatMap(f => Seq(count_if(expr(f)), bit_xor(when(expr(f), h).otherwise(lit(0L)))))
    val r = src.agg(aggs.head, aggs.tail: _*).head()
    filterOracle = filters.indices.map(k => (long(r, 2 * k), long(r, 2 * k + 1)))
    encBytesPerRow.clear()
    if (readOnly) encBytesPerRow += Inputs.duBytes(s"$dir/static").toDouble / rows
  }

  private def same(r: Row, want: Row, expectRows: Long): Boolean =
    long(r, 0) == expectRows && long(r, 1) == long(want, 1)

  private def encode(l: Ledger, out: String): Unit = {
    l.call(bulkKind)(GenericEncode.encodeWrite(spark.read.parquet(s"$dir/src"), out))(
      _ => rows.toDouble, _ => new java.io.File(out, "_SUCCESS").exists())
    encBytesPerRow += Inputs.duBytes(out).toDouble / rows
  }

  def cycle(i: Int, l: Ledger): Unit = {
    val out = if (readOnly) s"$dir/static" else s"$dir/out-$i"
    if (!readOnly) encode(l, out)
    val fa = Inputs.fingerprint(All: _*)
    l.collect("lineitem_scan")(GenericEncode.readTable(spark, out).agg(fa.head, fa.tail: _*))(
      _ => rows.toDouble, r => same(r(0), fpAll, planted(long(fpAll, 0))))
    val f2 = Inputs.fingerprint(Two: _*)
    l.collect("lineitem_scan_2col")(GenericEncode.readTable(spark, out, Two).agg(f2.head, f2.tail: _*))(
      _ => rows.toDouble, r => same(r(0), fpTwo, long(fpTwo, 0)))
    val keys = (0 until 4).map(j => (4 * nextFilter + j) % KeyFilters)
    val windows = (0 until 2).map(j => KeyFilters + (2 * nextFilter + j) % Windows)
    for (k <- keys ++ windows) {
      l.collect(if (k < KeyFilters) pointKind else "lineitem_filter_unpruned")(spark.sql(
        s"SELECT count(*), bit_xor(xxhash64(${Two.mkString(", ")})) FROM lineitem WHERE ${filters(k)}"))(
        _ => 1.0, r => (long(r(0), 0), long(r(0), 1)) == filterOracle(k))
    }
    nextFilter += 1
    if (!readOnly) Inputs.rmrf(out)
  }

  def bytesPerItem: Double = Stats.median(encBytesPerRow.toSeq)

  def named(l: Ledger): Seq[Named] =
    (if (readOnly) Nil else Seq(rate(l, bulkKind, "generic_encode_rows_per_s", "rows/s"))) ++ Seq(
      rate(l, "lineitem_scan", "generic_scan_rows_per_s", "rows/s"),
      rate(l, "lineitem_scan_2col", "generic_scan_2col_rows_per_s", "rows/s"),
      timing(l, pointKind, "generic_filter_p50_ms", 1e3, "ms"),
      timing(l, "lineitem_filter_unpruned", "generic_filter_unpruned_p50_ms", 1e3, "ms"),
      Named("enc_bytes_per_row", bytesPerItem, "B/row", "lower"))

  /** Share of chunks `pruneRange` keeps for each orderkey filter. */
  private var survivorsFrac = 0.0

  override def probe(l: Ledger): Unit = {
    import spark.implicits._
    if (readOnly) for (k <- 0 until 2) {
      val out = s"$dir/probe-$k"
      encode(l, out)
      Inputs.rmrf(out)
    }
    val meta = spark.read.parquet(s"$dir/static")
    val chunks = meta.withColumn("cols_bin",
      array(All.indices.map(i => col(s"bin_$i")): _*)).as[GenericChunk]
    val total = meta.count().toDouble
    val keyRanges = filters.take(8).map { f =>
      val Array(lo, hi) = f.stripPrefix("l_orderkey BETWEEN ").split(" AND ")
      (lo, hi)
    }
    val kept = keyRanges.flatMap { case (lo, hi) =>
      l.call("prune_range")(GenericEncode.pruneRange(chunks, "l_orderkey", Some(lo), Some(hi)).count())(
        _ => 1.0, n => n >= 1 && n <= total)
    }
    survivorsFrac = if (kept.isEmpty) 0.0 else kept.sum / (kept.size * total)
  }

  /** Share of the table's parquet column-chunk bytes that the 2-column
    * scan reads: its two payload columns and the chunk metadata the
    * decode needs, from the footers. */
  private def projBytesFrac: Double = {
    val wanted = (Two.map(c => s"bin_${All.indexOf(c)}") ++ Seq("num_rows", "chunk_id", "col_crcs")).toSet
    val conf = spark.sparkContext.hadoopConfiguration
    val chunks = new java.io.File(s"$dir/static").listFiles().filter(_.getName.endsWith(".parquet"))
      .flatMap { f =>
        org.apache.parquet.hadoop.ParquetFileReader.readFooter(conf, new org.apache.hadoop.fs.Path(f.getPath))
          .getBlocks.asScala.flatMap(_.getColumns.asScala)
      }
    val bytes = chunks.map(c => (c.getPath.toArray.head, c.getTotalSize))
    bytes.filter(b => wanted(b._1)).map(_._2).sum.toDouble / bytes.map(_._2).sum
  }

  def layers(traces: Seq[CallTrace]): Map[String, Double] = {
    Map(
      "GenericEncode.encode_write_s" -> medianOf(traces, bulkKind)(_.wallMs / 1e3),
      "GenericEncode.enc_bytes_per_row" -> bytesPerItem,
      "GenericEncode.proj_bytes_frac" -> projBytesFrac,
      "GenericEncode.prune_survivors_frac" -> survivorsFrac)
  }
}
