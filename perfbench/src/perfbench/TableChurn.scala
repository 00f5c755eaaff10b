package perfbench

import graft.spec.{DatasetRef, SourceSpec}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import java.io.File
import scala.collection.immutable.TreeMap
import scala.collection.mutable

/** Keyed commits beside reads on one snapshot-protocol table.
  *
  * Set-up seeds a pk-sorted `--commit snapshot --index-by o_orderkey`
  * copy of a generated orders table and writes a seeded stream of batch
  * datasets. Each round is five commits (upsert, update --tq, insert,
  * delete --dv, index), three lookups after each commit: a filtered
  * --count, a _limit preview filtered on a non-key column and an
  * --at-version count, then maintenance: --history, --changelog,
  * one CdfStream drain, --compact, --vacuum and --fsck. Three of each
  * round's batches land in the hot tenth of the key space. A model
  * replay of the batches checks every lookup and every retained version.
  */
final class TableChurn(seed: Long) extends Workload {
  type Row = (Long, String, Double, Long, String) // cust, status, price, date µs, priority
  type Model = TreeMap[Long, Row]

  private val BaseRows = 24000L
  private val Batches = 40
  private val RoundOps = Seq("upsert", "update", "insert", "delete", "index")
  private val Keep = 12
  private val VacuumTo = 4
  private val LookupsPerCommit = 3

  /** Batch plan: (first key, key count) per batch. Sizes are fixed so
    * every round commits the same number of rows. Where batches land is
    * a fixed schedule too, the same for every seed, so the table's
    * layout evolves alike from run to run (in a trial, seeded positions
    * made one run's compaction a no-op and its lookups 50% slower); the
    * seed sets the rows' values. The upsert, insert and delete of each
    * round land in the hot first tenth of the keys, at golden-ratio
    * steps; the update and index land anywhere. */
  private val plan: IndexedSeq[(Long, Long)] =
    (0 until Batches).map { b =>
      val u = (b * 0.6180339887) % 1.0
      val op = RoundOps(b % RoundOps.size)
      val start = 1L + (if (op == "update" || op == "index") u * BaseRows * 11 / 10
                        else u * BaseRows / 10).toLong
      (start, if (op == "delete") 150L else 600L)
    }

  /** A snapshot table of the run and the model of its rows. */
  private final class Table(dir: String, name: String) {
    val ref = s"parquet/$dir/$name"
    val path = s"$dir/$name.parquet"
    val cdfCheckpoint = s"$dir/${name}_cdf_ckpt"
    var model: Model = TreeMap.empty
    val versions = mutable.HashMap.empty[Long, Model]
    var retained: Seq[Long] = Nil
    /** Bytes of each pass's batches, as written once by the generator. */
    val onceBytes = mutable.HashMap.empty[Int, Long]
  }
  private var batches = Map.empty[Int, Seq[(Long, Row)]]
  private var batchBytes = Map.empty[Int, Long]
  /** The main table, then one table for each warm-up pass after the
    * first: those passes run beside the main table's first round and
    * need a table of their own. */
  private var tables = IndexedSeq.empty[Table]
  /** The table pass `n` runs on. */
  private def tableOf(n: Int): Table = if (n < tables.size) tables(n) else tables(0)
  private def main: Table = tables(0)

  private def readRows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Row)] =
    df.select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"), col("o_totalprice"),
        unix_micros(col("o_orderdate")), col("o_orderpriority")).collect().toSeq
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2), r.getDouble(3), r.getLong(4),
        r.getString(5))))

  private def committed(spark: SparkSession, t: Table): Seq[Long] = {
    val p = new Path(t.path)
    graft.operators.Snapshot.committed(p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
      .map(_._1)
  }

  private val writeFlags = Seq("--pk", "o_orderkey", "--commit", "snapshot",
    "--index-by", "o_orderkey", "--keep-versions", Keep.toString,
    "--max-records-per-file", "5000", "--skip-timestamp")

  def generate(spark: SparkSession, dir: String): Unit = {
    val k = spark.sparkContext.defaultParallelism
    val base = Gen.ordersFrame(spark, seed, 1L, BaseRows, BaseRows / 10, k)
    Gen.write(base, dir, "orders_src")
    // every batch in one write, one file per batch, then each batch
    // directory becomes its own dataset `b/b<N>`
    import spark.implicits._
    val ranges = plan.zipWithIndex.map { case ((s, l), b) => (b, s, l) }.toDF("b", "s", "l")
    val keys = ranges.select(col("b"), explode(sequence(col("s"), col("s") + col("l") - 1)).as("id"))
    val batchDf = keys.select(col("b") +:
      Gen.ordersCols(seed + 1000003L, BaseRows / 10, col("id"), col("b")): _*)
    batchDf.repartition(col("b")).write.partitionBy("b").parquet(s"$dir/b_all")
    new File(s"$dir/b").mkdirs()
    (0 until Batches).foreach { b =>
      require(new File(s"$dir/b_all/b=$b").renameTo(new File(s"$dir/b/b$b.parquet")),
        s"could not move batch $b into place")
    }
    val byBatch = batchDf.select(col("b"), col("o_orderkey"), col("o_custkey"),
        col("o_orderstatus"), col("o_totalprice"), unix_micros(col("o_orderdate")),
        col("o_orderpriority")).collect().toSeq
      .groupBy(_.getInt(0)).map { case (b, rs) =>
        b -> rs.map(r => r.getLong(1) -> ((r.getLong(2), r.getString(3), r.getDouble(4),
          r.getLong(5), r.getString(6)))).sortBy(_._1)
      }
    batches = byBatch
    batchBytes = (0 until Batches).map(b => b -> Bench.dirBytes(s"$dir/b/b$b.parquet")).toMap
  }

  /** Seeds each table through the CLI and starts its change feed. */
  override def seed(spark: SparkSession, dir: String): Unit = {
    val base = TreeMap(readRows(spark.read.parquet(s"$dir/orders_src.parquet")): _*)
    tables = (0 until Bench.WarmPasses).map(i => new Table(dir, if (i == 0) "orders" else s"orders_w$i"))
    tables.foreach { t =>
      val seedPh = new Phase(spark, new Tracer(spark, on = false))
      val (_, ok, out) = seedPh.cli("setup", "seed", Seq("-s", s"parquet/$dir/orders_src",
        "-t", t.ref, "-o", "create") ++ writeFlags)
      require(ok, s"seeding ${t.ref} failed: ${seedPh.ops.head.error} $out")
      t.model = base
      val vs = committed(spark, t)
      t.versions(vs.last) = t.model
      t.retained = vs
      // start the change-feed cursor at the seeded version, so each
      // round's drain reads that round's commits
      graft.streaming.CdfStream.runAvailableNow(spark, t.path, Seq("o_orderkey"),
        t.cdfCheckpoint)((_, _, _) => ())
    }
  }

  private def apply(m: Model, op: String, batch: Seq[(Long, Row)]): Model = op match {
    case "upsert" | "index" => m ++ batch
    case "insert" => m ++ batch.filterNot(r => m.contains(r._1))
    case "update" => m ++ batch.filter(r => m.get(r._1).exists(_._2 == "O"))
    case "delete" => m -- batch.map(_._1)
  }

  def cycle(ph: Phase, dir: String, n: Int): Unit = {
    val spark = ph.spark
    val t = tableOf(n)
    def noteVersion(): Unit = {
      val vs = committed(spark, t)
      vs.lastOption.foreach(v => if (!t.versions.contains(v)) t.versions(v) = t.model)
      t.retained = vs
    }
    RoundOps.zipWithIndex.foreach { case (op, j) =>
      val b = (n * RoundOps.size + j) % Batches
      val batch = batches(b)
      val extra = op match {
        case "update" => Seq("--tq", "o_orderstatus=O")
        case "delete" => Seq("--dv")
        case _ => Nil
      }
      val before = if (ph.tr.on) Bench.dirFiles(t.path) else 0L
      val (id, ok, _) = ph.cli("commit", op, Seq("-s", s"parquet/$dir/b/b$b",
        "-t", t.ref, "-o", op) ++ writeFlags ++ extra, rows = batch.size)
      if (ph.tr.on) ph.extra((id, "files_added")) = (Bench.dirFiles(t.path) - before).toDouble
      t.onceBytes(n) = t.onceBytes.getOrElse(n, 0L) + batchBytes(b)
      if (ok) t.model = apply(t.model, op, batch)
      noteVersion()
      (0 until LookupsPerCommit).foreach(i =>
        lookup(ph, t, (n * RoundOps.size + j) * LookupsPerCommit + i))
    }
    val latest = t.retained.last
    ph.cli("maint", "history", Seq("-s", t.ref, "--history"))
    if (t.retained.contains(latest - 2))
      ph.cli("maint", "changelog", Seq("-s", t.ref, "--changelog", s"${latest - 2}:$latest",
        "--pk", "o_orderkey"))
    ph.lib("cdf", "drain") {
      graft.streaming.CdfStream.runAvailableNow(spark, t.path, Seq("o_orderkey"),
        t.cdfCheckpoint)((df, _, _) => df.count())
    }
    ph.cli("maint", "compact", Seq("-t", t.ref, "--compact", "1m",
      "--index-by", "o_orderkey", "--keep-versions", Keep.toString))
    noteVersion()
    ph.cli("maint", "vacuum", Seq("-s", t.ref, "--vacuum", VacuumTo.toString))
    noteVersion()
    val (fsckOp, _, out) = ph.cli("maint", "fsck", Seq("-s", t.ref, "--fsck"))
    if (!out.contains("fsck: clean") && out.toLowerCase.contains("error"))
      ph.fail(fsckOp, s"fsck reported errors: ${out.take(300)}")
  }

  /** The lookup schedule is the same for every seed: the seed moves the
    * data, not the queries, so a lookup's work is alike from run to run.
    * Key ranges are 2000 wide, at golden-ratio steps over the key space. */
  private def lookup(ph: Phase, t: Table, i: Int): Unit = {
    val slot = i / 3
    val a = 1L + ((slot * 0.6180339887) % 1.0 * BaseRows * 0.9).toLong
    val b = a + 2000
    i % 3 match {
      case 0 =>
        val (id, ok, out) = ph.cli("lookup", "count", Seq("-s", t.ref, "--count",
          "-q", s"o_orderkey__gte=$a", "-q", s"o_orderkey__lt=$b"))
        val want = t.model.range(a, b).size.toLong
        if (ok && Bench.lastLine(out) != want.toString)
          ph.fail(id, s"count [$a,$b) = ${Bench.lastLine(out)}, model $want")
      case 1 =>
        val p = Seq(220000.0, 260000.0, 300000.0, 340000.0, 380000.0)(slot % 5)
        val (id, ok, out) = ph.cli("lookup", "preview", Seq("-s", t.ref,
          "-q", s"o_totalprice__gte=$p", "-q", "_sort=o_orderkey", "-q", "_limit=10",
          "-q", "_fields=o_orderkey,o_totalprice"))
        val want = t.model.iterator.filter(_._2._3 >= p).map(_._1).take(10).toSeq
        if (ok && Bench.shownKeys(out).map(_.toLong) != want)
          ph.fail(id, s"preview price>=$p keys ${Bench.shownKeys(out).map(_.toLong)}, model $want")
      case _ =>
        val older = t.retained.dropRight(1).filter(t.versions.contains)
        val v = if (older.isEmpty) t.retained.last else older(slot % older.size)
        val (id, ok, out) = ph.cli("lookup", "at_version", Seq("-s", t.ref,
          "--at-version", v.toString, "--count",
          "-q", s"o_orderkey__gte=$a", "-q", s"o_orderkey__lt=$b"))
        val want = t.versions(v).range(a, b).size.toLong
        if (ok && Bench.lastLine(out) != want.toString)
          ph.fail(id, s"v$v count [$a,$b) = ${Bench.lastLine(out)}, model $want")
    }
  }

  def check(ph: Phase, dir: String): Seq[(String, Boolean)] = {
    val spark = ph.spark
    main.retained.filter(main.versions.contains).map { v =>
      val df = graft.engine.Planner.sourceFrame(spark,
        SourceSpec(DatasetRef.parse(main.ref), query = Seq("_version" -> v.toString)))
      val got = readRows(df)
      val want = main.versions(v)
      val ok = got.size == want.size && got.forall(r => want.get(r._1).contains(r._2))
      s"version $v equals model replay" -> ok
    }
  }

  def inputs(spark: SparkSession, dir: String): Map[String, Any] =
    Map("table_rows" -> BaseRows, "batches" -> Batches,
      "batch_rows" -> batches.values.map(_.size).sum,
      "table_bytes" -> Bench.dirBytes(s"$dir/orders_src.parquet"),
      "batch_bytes" -> Bench.dirBytes(s"$dir/b"))

  /** Bytes of the batches the phase committed, each written once. */
  def writtenOnceBytes(ph: Phase, dir: String): Long =
    ph.passes.map(main.onceBytes.getOrElse(_, 0L)).sum

  override def extraMetrics(ph: Phase, dir: String): Map[String, Double] = {
    val spark = ph.spark
    import spark.implicits._
    val live = main.model.toSeq.map { case (k, (c, s, p, d, o)) => (k, c, s, p, d, o) }
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "d", "o_orderpriority")
      .withColumn("o_orderdate", timestamp_micros(col("d"))).drop("d")
    live.write.mode("overwrite").parquet(s"$dir/live_once.parquet")
    Map("operators.space_amp" -> Bench.dirBytes(main.path).toDouble /
        Bench.dirBytes(s"$dir/live_once.parquet"))
  }
}
