package perfbench

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.sources.KeyedStore

/** One closed-loop operation. `before` and `after` run outside the timed
  * interval: `before` prepares the operation's inputs, `after` checks its
  * output and returns an error message when the check fails.
  */
trait Op {
  def name: String
  def kind: String
  def before(): Unit = ()
  def run(): Unit
  def after(): Option[String] = None
  /** Untimed warm-up execution; query ops also dump their output here. */
  def warm(dumpDir: String): Option[String] = { before(); run(); after() }
  /** Time spent building the frame in the last run (query ops only). */
  def buildMs: Double = 0.0
  /** Catalyst analysis of the built frame in the last run (query ops only). */
  def analysisMs: Double = 0.0
}

/** A registered query: `SparkEntry.queries(name)` builds the frame (which
  * runs any eager jobs the query needs), then the noop sink executes it.
  */
class QueryOp(spark: SparkSession, dir: String, val name: String) extends Op {
  val kind = "query"
  private var lastBuild = 0.0
  private var lastAnalysis = 0.0
  override def buildMs: Double = lastBuild
  override def analysisMs: Double = lastAnalysis

  /** Builds the frame; the frame is analysed eagerly, so its analysis
    * phase is over (and recorded in its tracker) when the call returns.
    */
  private def build(): DataFrame = {
    val t0 = System.nanoTime()
    val df = SparkEntry.queries(name)(spark, dir)
    lastBuild = (System.nanoTime() - t0) / 1e6
    lastAnalysis = df.queryExecution.tracker.phases.get("analysis")
      .map(_.durationMs.toDouble).getOrElse(0.0)
    df
  }

  def run(): Unit = build().write.format("noop").mode("overwrite").save()

  override def warm(dumpDir: String): Option[String] = {
    build().coalesce(1).write.mode("overwrite").parquet(s"$dumpDir/$name")
    None
  }
}

/** Seeded KeyedStore traffic checked against an in-memory model of every
  * put and delete issued. Cells are (rowkey, family, qualifier); rowkeys
  * are `p<prefix>-r<row>` so prefix scans select a known slice.
  */
class StoreModel(spark: SparkSession, root: String, seed: Long) {
  val table = "bench_store"
  val location = s"$root/store"
  val maxVersions = 3
  val prefixes: Seq[String] = (0 until 20).map(p => f"p$p%02d")
  private val rows = 25
  private val cellsAll: IndexedSeq[(String, String, String)] = for {
    p <- prefixes.toIndexedSeq; r <- 0 until rows
    f <- Seq("cf1", "cf2"); q <- Seq("a", "b")
  } yield (f"$p-r$r%03d", f, q)

  private val rng = new Random(seed ^ 0x5eedL)
  /** Per cell, every version written: Some(value) for a put, None for a tombstone. */
  private val log = mutable.Map[(String, String, String), List[(Long, Option[String])]]()
  private var version = 0L
  var userBytesWritten = 0L

  private def cellBytes(k: (String, String, String), v: Option[String]): Long =
    k._1.length + k._2.length + k._3.length + v.map(_.length).getOrElse(0) + 8L

  def create(): Unit = KeyedStore.create(spark, table, location)

  def nextVersion(): Long = { version += 1; version }

  private def value(): String = rng.alphanumeric.take(8 + rng.nextInt(17)).mkString

  /** Draw `n` distinct cells with fresh values at one new version. */
  def drawPut(n: Int): (Long, Seq[((String, String, String), String)]) = {
    val v = nextVersion()
    (v, rng.shuffle(cellsAll).take(n).map(k => k -> value()))
  }

  def drawDelete(n: Int): (Long, Seq[(String, String, String)]) =
    (nextVersion(), rng.shuffle(cellsAll).take(n))

  def drawRowkey(): String = cellsAll(rng.nextInt(cellsAll.size))._1
  def drawPrefix(): String = prefixes(rng.nextInt(prefixes.size))

  def put(v: Long, cells: Seq[((String, String, String), String)]): Unit = {
    val df = spark.createDataFrame(spark.sparkContext.parallelize(
      cells.map { case ((r, f, q), x) => Row(r, f, q, x, v) }, 1),
      org.apache.spark.sql.types.StructType.fromDDL(KeyedStore.schemaDdl))
    KeyedStore.put(spark, table, df)
  }

  def delete(v: Long, keys: Seq[(String, String, String)]): Unit = {
    import spark.implicits._
    KeyedStore.delete(spark, table,
      keys.map { case (r, f, q) => (r, f, q, v) }.toDF("rowkey", "family", "qualifier", "version")
        .coalesce(1))
  }

  def recordPut(v: Long, cells: Seq[((String, String, String), String)]): Unit =
    cells.foreach { case (k, x) =>
      log(k) = (v, Some(x)) :: log.getOrElse(k, Nil)
      userBytesWritten += cellBytes(k, Some(x))
    }

  def recordDelete(v: Long, keys: Seq[(String, String, String)]): Unit =
    keys.foreach { k =>
      log(k) = (v, None) :: log.getOrElse(k, Nil)
      userBytesWritten += cellBytes(k, None)
    }

  /** Live versions of one cell, newest first, at most `k`: the versions
    * above the newest tombstone (HBase DeleteColumn semantics).
    */
  private def live(k: (String, String, String), maxV: Int): List[(Long, String)] = {
    val vs = log.getOrElse(k, Nil).sortBy(-_._1)
    vs.takeWhile(_._2.isDefined).map { case (v, x) => (v, x.get) }.take(maxV)
  }

  def expectedGet(rowkey: String): Seq[String] =
    log.keys.filter(_._1 == rowkey).toSeq.sortBy(k => (k._2, k._3))
      .flatMap(k => live(k, 1).map { case (_, x) => s"${k._2}|${k._3}|$x" })

  def expectedScan(prefix: String, reversed: Boolean): Seq[String] = {
    val ks = log.keys.filter(_._1.startsWith(prefix)).toSeq
    val ordered = if (reversed)
      ks.sortBy(k => (k._2, k._3)).sortBy(_._1)(Ordering[String].reverse)
    else ks.sortBy(k => (k._1, k._2, k._3))
    ordered.flatMap(k => live(k, maxVersions).map { case (v, x) =>
      s"${k._1}|${k._2}|${k._3}|$x|$v" })
  }

  def liveRows: Long = log.keys.toSeq.map(k => live(k, maxVersions).size.toLong).sum
  def liveBytes: Long = log.keys.toSeq.map(k =>
    live(k, maxVersions).map { case (_, x) => cellBytes(k, Some(x)) }.sum).sum

  /** Parquet part files under the table directory, name -> bytes. */
  def files(): Map[String, Long] = {
    val d = new java.io.File(location)
    Option(d.listFiles).getOrElse(Array.empty)
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
      .map(f => f.getName -> f.length).toMap
  }

  def storedRows(): Long = spark.read.parquet(location).count()
}

object StoreOps {
  private def rowsOf(df: DataFrame): Seq[String] =
    df.collect().toSeq.map(_.toSeq.map(String.valueOf).mkString("|"))

  private def diff(what: String, got: Seq[String], want: Seq[String]): Option[String] =
    if (got == want) None
    else Some(s"$what: ${got.size} rows differ from the model's ${want.size} " +
      s"(first difference at ${got.zipAll(want, "<none>", "<none>").indexWhere(p => p._1 != p._2)})")

  class Put(m: StoreModel, n: Int, i: Int) extends Op {
    val name = s"store.put#$i"; val kind = "put"
    private var batch: (Long, Seq[((String, String, String), String)]) = _
    override def before(): Unit = batch = m.drawPut(n)
    def run(): Unit = m.put(batch._1, batch._2)
    override def after(): Option[String] = { m.recordPut(batch._1, batch._2); None }
  }

  class Delete(m: StoreModel, n: Int, i: Int) extends Op {
    val name = s"store.delete#$i"; val kind = "delete"
    private var batch: (Long, Seq[(String, String, String)]) = _
    override def before(): Unit = batch = m.drawDelete(n)
    def run(): Unit = m.delete(batch._1, batch._2)
    override def after(): Option[String] = { m.recordDelete(batch._1, batch._2); None }
  }

  class Get(spark: SparkSession, m: StoreModel, i: Int) extends Op {
    val name = s"store.get#$i"; val kind = "get"
    private var key: String = _
    private var got: Seq[String] = Nil
    override def before(): Unit = key = m.drawRowkey()
    def run(): Unit = got = rowsOf(KeyedStore.get(spark, m.table, key))
    override def after(): Option[String] = diff(s"get($key)", got, m.expectedGet(key))
  }

  class PrefixScan(spark: SparkSession, m: StoreModel, reversed: Boolean, i: Int) extends Op {
    val name = s"store.prefix_scan${if (reversed) "_rev" else ""}#$i"; val kind = "prefix_scan"
    private var prefix: String = _
    private var got: Seq[String] = Nil
    override def before(): Unit = prefix = m.drawPrefix()
    def run(): Unit = got = rowsOf(KeyedStore.prefixScan(spark, m.table, prefix, reversed,
      m.maxVersions).select("rowkey", "family", "qualifier", "value", "version"))
    override def after(): Option[String] =
      diff(s"prefixScan($prefix, reversed=$reversed)", got, m.expectedScan(prefix, reversed))
  }

  /** Major compaction. The check re-reads the whole store: the resolved
    * scan must be the same rows as before compacting, and no cell may keep
    * more than maxVersions stored versions or any tombstone.
    */
  class Compact(spark: SparkSession, m: StoreModel) extends Op {
    val name = "store.compact"; val kind = "compact"
    private var beforeScan: Seq[String] = Nil
    private def fullScan(): Seq[String] = rowsOf(KeyedStore.scan(spark, m.table, m.maxVersions)
      .select("rowkey", "family", "qualifier", "value", "version")
      .orderBy("rowkey", "family", "qualifier", "version"))
    override def before(): Unit = beforeScan = fullScan()
    def run(): Unit = KeyedStore.compact(spark, m.table, m.maxVersions)
    override def after(): Option[String] = {
      val stored = spark.table(m.table)
      val worst = stored.groupBy("rowkey", "family", "qualifier").count()
        .agg(max("count")).head().get(0)
      val tombstones = stored.filter(col("value").isNull).count()
      val want = m.expectedScan("", reversed = false).sorted
      diff("scan after compaction", fullScan(), beforeScan)
        .orElse(diff("scan before compaction", beforeScan.sorted, want))
        .orElse(if (worst != null && worst.asInstanceOf[Long] > m.maxVersions)
          Some(s"compaction kept $worst versions of a cell (maxVersions ${m.maxVersions})")
        else if (tombstones > 0) Some(s"compaction kept $tombstones tombstones") else None)
    }
  }
}

/** The workloads: a name, the queries each pass runs, and any store traffic. */
object Workloads {
  /** Queries whose traced wall time is mostly driver-side (Catalyst
    * phases, AQE re-planning, job and stage scheduling): hw1 traffic, hw2
    * lookup, hw5 relational, filters, a semi join and one streamed query, whose
    * per-trigger fixed cost is the same kind of work.
    */
  val sqlMix: Seq[String] = Seq(
    "q02_traffic_total", "q10_hw5_q1", "q11_hw5_q2",
    "q48_lookup_hit", "q49_lookup_miss", "q50_lookup_batch",
    "q12_filter_merge", "q15_not_in_nulls", "q22_join_semi",
    "q136_streamed_tumbling_counts")

  /** Store-backed queries run beside the KeyedStore traffic. */
  val storeQueries: Seq[String] = Seq(
    "q45_widecol_prefix_scan", "q46_widecol_point_get")

  val names: Seq[String] = Seq("sql_mix", "store_rw")

  /** Seconds one warm pass of each workload takes on a 4-core host; the
    * timed window runs ceil(seconds / this) whole passes, so every run of
    * one `--seconds` value does the same work however fast the host is.
    */
  val nominalPassSeconds = Map("sql_mix" -> 4.0, "store_rw" -> 4.0)

  def queriesOf(workload: String): Seq[String] = workload match {
    case "sql_mix" => sqlMix
    case "store_rw" => storeQueries
  }

  /** One pass of `store_rw` KeyedStore traffic (before the seeded shuffle). */
  def storePass(spark: SparkSession, m: StoreModel): Seq[Op] =
    (0 until 2).map(i => new StoreOps.Put(m, 300, i)) ++
      Seq(new StoreOps.Delete(m, 30, 0)) ++
      (0 until 3).map(i => new StoreOps.Get(spark, m, i)) ++
      Seq(new StoreOps.PrefixScan(spark, m, reversed = false, 0),
        new StoreOps.PrefixScan(spark, m, reversed = true, 0),
        new StoreOps.Compact(spark, m))

  /** Fill every cell with maxVersions versions and compact, so that the
    * timed passes start from the store's steady state.
    */
  def preloadStore(spark: SparkSession, m: StoreModel): Unit = {
    m.create()
    (0 until m.maxVersions).foreach { _ =>
      val (v, cells) = m.drawPut(Int.MaxValue)
      m.put(v, cells); m.recordPut(v, cells)
    }
    KeyedStore.compact(spark, m.table, m.maxVersions)
  }
}
