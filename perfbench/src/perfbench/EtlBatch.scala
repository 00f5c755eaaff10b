package perfbench

import org.apache.spark.sql.SparkSession

/** Batch work, one pass per cycle: a fixed script of CLI jobs over a
  * generated star schema, then one corpus curation pass through
  * `graft.ext` (see [[CorpusCuration]]). Each CLI write job writes a
  * fresh `rename`-protocol target with `-o create`: filters from every
  * operator family, `_fields` include/exclude, `_sort` + `_limit`,
  * `_group`/`_agg`, the merger in each mode (`--mq` left with
  * `--mrules`, `--mrm`, `--mrnm`, `--munwind`, `--mma`), `--str`/`--mtr`
  * transformer chains and one wildcard fan-out. Every CLI output is
  * checked against DuckDB running the job's SQL after the JVM exits;
  * the corpus pass has its own checks.
  */
final class EtlBatch(seed: Long) extends Workload {
  import EtlBatch.Job
  private val Orders = 20000L
  private val Tables = Seq("customer", "orders", "lineitem", "part")
  private val corpus = new CorpusCuration(seed)
  private def corpusDir(dir: String) = s"$dir/corpus"

  private def jobs(d: String): Seq[Job] = {
    def s(t: String) = s"parquet/$d/$t"
    def one(name: String, args: Seq[String], reads: Seq[String], sql: String) =
      Job(name, args, reads, Seq(name -> sql))
    Seq(
      one("filter_ops", Seq("-s", s("lineitem"), "-q", "l_quantity__gte=30",
        "-q", "l_extendedprice__lt=40000", "-q", "l_returnflag__in=A,N",
        "-q", "l_partkey__exists=true", "-q", "l_linenumber__ne=1", "-q", "l_tax__lte=0.04",
        "-q", "l_suppkey__gt=10", "-q", "l_linestatus__nin=F",
        "-q", "l_discount__between=0.01,0.06",
        "-q", "_fields=l_orderkey,l_linenumber,l_quantity,l_discount,l_tax,l_returnflag"),
        Seq("lineitem"),
        """SELECT l_orderkey, l_linenumber, l_quantity, l_discount, l_tax, l_returnflag
           FROM lineitem WHERE l_quantity >= 30 AND l_extendedprice < 40000
           AND l_returnflag IN ('A','N') AND l_partkey IS NOT NULL AND l_linenumber <> 1
           AND l_tax <= 0.04 AND l_suppkey > 10 AND l_linestatus NOT IN ('F')
           AND l_discount BETWEEN 0.01 AND 0.06"""),
      one("filter_transform", Seq("-s", s("part"), "-q", "p_name__regex=^(azure|coral|khaki) ",
        "-q", "p_type__contains=A", "-q", "p_brand__startswith=Brand#",
        "-q", "p_name__endswith=l", "-q", "p_size__nsne=21",
        "-q", "_fields=-p_type", "-q", "_sort=-p_retailprice,p_partkey", "-q", "_limit=40",
        "--str", "upper:p_name,set_expr:price_band;CASE WHEN p_retailprice < 1400 THEN 'low' ELSE 'high' END"),
        Seq("part"),
        """SELECT p_partkey, upper(p_name) AS p_name, p_brand, p_size, p_retailprice,
                  CASE WHEN p_retailprice < 1400 THEN 'low' ELSE 'high' END AS price_band
           FROM (SELECT * FROM part
                 WHERE regexp_matches(p_name, '^(azure|coral|khaki) ') AND contains(p_type, 'A')
                 AND p_brand LIKE 'Brand#%' AND p_name LIKE '%l' AND p_size IS DISTINCT FROM 21
                 ORDER BY p_retailprice DESC, p_partkey LIMIT 40)"""),
      one("group_agg", Seq("-s", s("lineitem"), "-q", "_group=l_returnflag,l_linestatus",
        "-q", "_agg=count:*,max:l_extendedprice,min:l_quantity"), Seq("lineitem"),
        """SELECT l_returnflag, l_linestatus, count(*) AS count_all,
                  max(l_extendedprice) AS max_l_extendedprice, min(l_quantity) AS min_l_quantity
           FROM lineitem GROUP BY l_returnflag, l_linestatus"""),
      one("merge_rule", Seq("-s", s("orders"), "-m", s("customer"),
        "--mq", "c_custkey=#o_custkey#", "--mtr", "rename:c_acctbal;o_totalprice",
        "--mrules", "sum", "--mrules-scm", "o_totalprice"), Seq("orders", "customer"),
        """SELECT o.o_orderkey, o.o_custkey, o.o_orderstatus,
                  CASE WHEN c.c_acctbal IS NOT NULL AND o.o_totalprice IS NOT NULL
                       THEN o.o_totalprice + c.c_acctbal
                       ELSE coalesce(o.o_totalprice, c.c_acctbal) END AS o_totalprice,
                  o.o_orderdate, o.o_orderpriority,
                  c.c_custkey, c.c_name, c.c_nationkey, c.c_mktsegment
           FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey"""),
      one("merge_inner", Seq("-s", s("customer"), "-m", s("orders"),
        "--mq", "o_custkey=#c_custkey#", "--mrm"), Seq("customer", "orders"),
        """SELECT c.*, o.o_orderkey, o.o_custkey, o.o_orderstatus, o.o_totalprice,
                  o.o_orderdate, o.o_orderpriority
           FROM customer c
           JOIN (SELECT *, row_number() OVER (PARTITION BY o_custkey
                   ORDER BY o_orderkey) AS rn FROM orders) o
             ON c.c_custkey = o.o_custkey AND o.rn = 1"""),
      one("merge_anti", Seq("-s", s("orders"), "-m", s("lineitem"),
        "--mq", "l_orderkey=#o_orderkey#", "--mrnm"), Seq("orders", "lineitem"),
        """SELECT * FROM orders o
           WHERE NOT EXISTS (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey)"""),
      one("merge_unwind", Seq("-s", s("orders"), "-q", "o_orderstatus=F", "-m", s("lineitem"),
        "--mq", "l_orderkey=#o_orderkey#", "--mq", "l_quantity__gte=45", "--munwind"),
        Seq("orders", "lineitem"),
        """SELECT o.*, l.l_orderkey, l.l_partkey, l.l_suppkey, l.l_linenumber,
                  l.l_quantity, l.l_extendedprice, l.l_discount, l.l_tax,
                  l.l_returnflag, l.l_linestatus, l.l_shipdate
           FROM orders o
           LEFT JOIN (SELECT * FROM lineitem WHERE l_quantity >= 45) l
             ON l.l_orderkey = o.o_orderkey
           WHERE o.o_orderstatus = 'F'"""),
      one("merge_as", Seq("-s", s("orders"), "-m", s("customer"),
        "--mq", "c_custkey=#o_custkey#", "--mma", "cust"), Seq("orders", "customer"),
        """SELECT o.*, struct_pack(c_custkey := c.c_custkey, c_name := c.c_name,
                  c_nationkey := c.c_nationkey, c_acctbal := c.c_acctbal,
                  c_mktsegment := c.c_mktsegment) AS cust
           FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey"""),
      Job("fanout", Seq("-s", s("*r*")), Seq("customer", "orders", "part"),
        Seq("customer", "orders", "part").map(t => t -> s"SELECT * FROM $t"))
    )
  }

  private var rowCounts = Map.empty[String, Long]

  /** The datasets are independent, so they are written at once. */
  def generate(spark: SparkSession, dir: String): Unit = {
    import scala.concurrent.{Await, Future, duration}
    import scala.concurrent.ExecutionContext.Implicits.global
    val k = spark.sparkContext.defaultParallelism
    val writes = Gen.star(spark, seed, Gen.Sizes(Orders), k).toSeq.map { case (t, df) =>
      Future(Gen.write(df, s"$dir/in", t))
    } :+ Future(corpus.generate(spark, corpusDir(dir)))
    writes.foreach(Await.result(_, duration.Duration.Inf))
    // logical input rows per table, from the footers
    rowCounts = Tables.map(t => t -> Bench.footerRows(spark, s"$dir/in/$t.parquet")).toMap
  }

  def inputs(spark: SparkSession, dir: String): Map[String, Any] =
    Map("rows" -> rowCounts, "bytes" -> Bench.dirBytes(s"$dir/in"),
      "corpus" -> corpus.inputs(corpusDir(dir)))

  private def outNs(dir: String, n: Int) = s"$dir/out/p$n"

  /** Read-only jobs a user runs beside the writes, three times each per
    * pass: a filtered `--count` and a `_limit` preview. (name, args,
    * reads, SQL whose first column the printed values must equal.) */
  private def reads(d: String): Seq[Job] = Seq(
    Job("count", Seq("-s", s"parquet/$d/lineitem", "--count", "-q", "l_returnflag=R",
      "-q", "l_quantity__gte=20"), Seq("lineitem"), Seq("count" ->
      "SELECT count(*) FROM lineitem WHERE l_returnflag = 'R' AND l_quantity >= 20")),
    Job("preview", Seq("-s", s"parquet/$d/orders", "-q", "o_orderpriority=1-URGENT",
      "-q", "_sort=-o_totalprice,o_orderkey", "-q", "_limit=15",
      "-q", "_fields=o_orderkey,o_totalprice"), Seq("orders"), Seq("preview" ->
      """SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT'
         ORDER BY o_totalprice DESC, o_orderkey LIMIT 15""")))

  /** Printed values of each read op, for the oracle. */
  private val printed = scala.collection.concurrent.TrieMap.empty[Int, Seq[String]]

  /** Each pass writes under its own `out/p<n>` and corpus `steps/p<n>`,
    * so the warm-up passes can run at once. */
  def cycle(ph: Phase, dir: String, n: Int): Unit = {
    def rows(j: Job) = j.reads.map(rowCounts.getOrElse(_, 0L)).sum
    // the reads are spread between the writes, so a short slow spell
    // of the host does not land on all of them
    val rs = Iterator.continually(reads(s"$dir/in")).flatten.take(6)
    jobs(s"$dir/in").zipWithIndex.foreach { case (j, i) =>
      val target = if (j.name == "fanout") "*" else j.name
      ph.cli("batch", j.name, j.args ++ Seq("-t", s"parquet/${outNs(dir, n)}/$target",
        "-o", "create"), rows = rows(j))
      if (i % 3 != 0 && rs.hasNext) {
        val r = rs.next()
        val (op, _, out) = ph.cli("lookup", r.name, r.args, rows = rows(r))
        printed(op) = if (r.name == "count") Seq(Bench.lastLine(out)) else Bench.shownKeys(out)
      }
    }
    corpus.cycle(ph, corpusDir(dir), n)
  }

  def check(ph: Phase, dir: String): Seq[(String, Boolean)] = corpus.check(ph, corpusDir(dir))

  /** The CLI targets' bytes plus the corpus steps' outputs, each
    * written once. */
  def writtenOnceBytes(ph: Phase, dir: String): Long =
    ph.passes.map { n =>
      jobs(s"$dir/in").flatMap(_.sql.map(_._1))
        .map(t => Bench.dirBytes(s"${outNs(dir, n)}/$t.parquet")).sum
    }.sum + corpus.writtenOnceBytes(ph, corpusDir(dir))

  override def extraMetrics(ph: Phase, dir: String): Map[String, Double] =
    corpus.recall ++ Map("docs_per_s" -> corpus.docCount / Bench.median(ph.cycleS.toSeq))

  /** Each pass's outputs with the SQL that must reproduce them; the op
    * ids let the checker mark a mismatching job failed. */
  override def oracleManifest(ph: Phase, dir: String): Seq[Map[String, Any]] = {
    val js = jobs(s"$dir/in")
    val byName = js.map(j => j.name -> j).toMap
    val writes = ph.ops.filter(_.kind == "batch").toSeq.flatMap { o =>
      byName(o.name).sql.map { case (out, sql) =>
        Map("op" -> o.op, "job" -> o.name, "pass" -> o.pass, "ok" -> o.ok, "in_dir" -> s"$dir/in",
          "tables" -> Tables, "path" -> s"${outNs(dir, o.pass)}/$out.parquet", "sql" -> sql)
      }
    }
    val rs = reads(s"$dir/in").map(j => j.name -> j.sql.head._2).toMap
    writes ++ ph.ops.filter(_.kind == "lookup").map { o =>
      Map("op" -> o.op, "job" -> o.name, "ok" -> o.ok, "in_dir" -> s"$dir/in",
        "tables" -> Tables, "sql" -> rs(o.name), "printed" -> printed.getOrElse(o.op, Nil))
    }
  }
}

object EtlBatch {
  /** A CLI job: its arguments without the target, the tables it reads
    * (for the logical row count), and the oracle SQL per output dataset. */
  final case class Job(name: String, args: Seq[String], reads: Seq[String],
                       sql: Seq[(String, String)])
}
