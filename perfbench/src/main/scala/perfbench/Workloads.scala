package perfbench

import scala.util.Random

import graft.{Matrix, SparkEntry}
import graft.gen.Q4112Gen
import graft.model.GenConfig
import graft.ops.Q4112
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MapType

/** One timed unit of work. `build` is the call into the layer that
  * shapes the query (the q4112 router, or a SparkEntry query builder);
  * `run` executes what it built and returns an error message when the
  * output is wrong. `check` is the query's first, untimed execution:
  * it warms the query up and checks its output.
  */
final case class Query(name: String, family: String, buildLayer: String,
    build: () => DataFrame, run: DataFrame => Option[String], check: () => Option[String])

/** What a workload's set-up produced: the queries in the order every
  * pass runs them, the set-up layer times, the queries whose output is
  * not checked, and each q4112 shape's oracle answer.
  */
final case class Prepared(queries: IndexedSeq[Query], genDataS: Double,
    genOracleS: Double, unchecked: Seq[String], oracles: Seq[(String, Option[Long])])

object Workloads {
  /** Outer rows of every q4112 shape. The group-by shapes are the
    * reference matrix at scale 1e-3, so they keep the reference's
    * rows-per-group ratios. The probe shapes keep 1e6 outer rows but take
    * their build sides from the matrix at scale 5e-3 (1, 500 and 5e5
    * keys): the largest dense build array (4 MB) lies past the 2 MiB
    * per-core L2 while the others fit inside it.
    */
  val outerRows = 1000000L

  /** Name of the query whose output is deliberately corrupted before
    * it is checked: lets the benchmark's tests prove that a wrong
    * result is counted as failed.
    */
  private val injectWrong: Option[String] = sys.env.get("PERFBENCH_INJECT_WRONG")

  def probeShapes(seed: Long): IndexedSeq[GenConfig] =
    Matrix.part1Matrix(0.005).map(_.copy(outerTuples = outerRows, seed = seed)).toIndexedSeq

  /** Part 2, shapes 8-14: the reference matrix's inner=1e5 row with every
    * group count (1 to 1e5 at this scale) and all heavy-hitter skews.
    */
  def groupbyShapes(seed: Long): IndexedSeq[GenConfig] = {
    val shapes = Matrix.part2Matrix(0.001).slice(7, 14).map(_.copy(seed = seed)).toIndexedSeq
    require(shapes.forall(_.outerTuples == outerRows))
    shapes
  }

  def shapeName(c: GenConfig): String =
    if (c.groups == 0L) f"p1_inner${c.innerTuples}_isel${c.innerSelectivity}%.1f_osel${c.outerSelectivity}%.1f"
    else f"p2_groups${c.groups}_hh${c.hhGroups}_p${c.hhProbability}%.1f"

  private def parallel[A, B](xs: IndexedSeq[A])(f: A => B): IndexedSeq[B] = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      Runtime.getRuntime.availableProcessors())
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try Await.result(Future.traverse(xs)(x => Future(f(x))), Duration.Inf)
    finally pool.shutdown()
  }

  private def time[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Part 1 (ungrouped) over all 8 probe shapes, then part 2 over the
    * 7 group-by shapes.
    */
  def q4112Shapes(seed: Long): IndexedSeq[GenConfig] = probeShapes(seed) ++ groupbyShapes(seed)

  /** Generates and caches every shape's inputs, computes each shape's
    * oracle once with the generator's independent RDD/CAS path, and
    * returns one query per shape that routes through the adaptive q4112
    * planner (part 1 for ungrouped shapes, part 2 for grouped ones) and
    * checks its result against that oracle. Set-up work runs a shape per
    * core at a time: at 1e6 rows a shape is one generator slice and one
    * task, so one shape at a time would leave cores idle.
    */
  def q4112(spark: SparkSession, shapes: IndexedSeq[GenConfig]): Prepared = {
    val (inputs, dataS) = time(parallel(shapes) { cfg =>
      val items = Q4112Gen.items(spark, cfg).cache()
      val orders = Q4112Gen.orders(spark, cfg).cache()
      items.count(); orders.count()
      (items, orders)
    })
    // (the CAS oracle serializes itself on its shared table)
    val (oracles, oracleS) = time(parallel(shapes.zip(inputs)) { case (cfg, (_, orders)) =>
      if (cfg.groups == 0L) Q4112Gen.oraclePart1Rdd(orders, cfg)
      else Q4112Gen.oracleFullCas(orders, cfg)
    })
    val queries = shapes.indices.map { i =>
      val cfg = shapes(i)
      val name = shapeName(cfg)
      val (items, orders) = inputs(i)
      val oracle = oracles(i)
      val build: () => DataFrame =
        if (cfg.groups == 0L) () =>
          Q4112.part1Adaptive(items.toDF(), orders.toDF(), "id", "itemId", "price", "quantity")
        else () =>
          Q4112.part2Adaptive(items.toDF(), orders.toDF(), "id", "itemId", "price", "quantity",
            "storeId")
      val run: DataFrame => Option[String] = df => {
        val got = df.collect().headOption.flatMap(r => if (r.isNullAt(0)) None else Some(r.getLong(0)))
        val checked = if (injectWrong.contains(name)) got.map(_ + 1L) else got
        if (checked == oracle) None else Some(s"result $checked != oracle $oracle")
      }
      Query(name, if (cfg.groups == 0L) "q4112.probe" else "q4112.groupby", "route", build, run,
        () => run(build()))
    }
    Prepared(queries, dataS, oracleS, Nil, shapes.map(shapeName).zip(oracles))
  }

  /** Order-independent digest of a result: row count, and the sum and
    * xor of one 64-bit hash per row over the columns in name order. Map
    * columns are hashed through their JSON form (maps are not hashable).
    */
  def digest(df: DataFrame): String = {
    val fields = df.schema.fields.zipWithIndex.sortBy(_._1.name)
    val renamed = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = fields.map { case (f, i) =>
      f.dataType match {
        case _: MapType => to_json(col(s"c$i"))
        case _ => col(s"c$i")
      }
    }
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols.toIndexedSeq: _*)
    val r = renamed.select(h.as("h"))
      .agg(count(lit(1)), sum(col("h").cast("decimal(38,0)")), bit_xor(col("h")))
      .collect()(0)
    val s = if (r.isNullAt(1)) "0" else r.getDecimal(1).toPlainString
    val x = if (r.isNullAt(2)) 0L else r.getLong(2)
    f"${r.getLong(0)}:$s:$x%016x"
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** The fixed sf_suite subset (see `sf_suite.json`) in the bench form
    * each query is timed in: the production form where SparkEntry has
    * one, else the oracle-gated form. The seed changes only the order.
    */
  def sfSuite(spark: SparkSession, dataDir: String, suite: Suite, seed: Long): Prepared = {
    val ordered = new Random(seed).shuffle(suite.queries.sortBy(_.name)).toIndexedSeq
    val queries = ordered.map { q =>
      val gated = SparkEntry.queries(q.name)
      val form = SparkEntry.benchOverrides.getOrElse(q.name, gated)
      val check: () => Option[String] = q.digest match {
        case Some(want) => () =>
          val got = digest(gated(spark, dataDir))
          val checked = if (injectWrong.contains(q.name)) got + "x" else got
          if (checked == want) None else Some(s"digest $checked != expected $want")
        case None => () => { noop(form(spark, dataDir)); None }
      }
      Query(q.name, q.family, "build", () => form(spark, dataDir), df => { noop(df); None }, check)
    }
    Prepared(queries, 0.0, 0.0, suite.queries.filter(_.digest.isEmpty).map(_.name).sorted, Nil)
  }
}

final case class SuiteQuery(name: String, family: String, digest: Option[String])
final case class Suite(queries: Seq[SuiteQuery])

object Suite {
  def load(path: String): Suite = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods.parse
    implicit val formats: Formats = DefaultFormats
    val j = parse(java.nio.file.Files.readString(java.nio.file.Paths.get(path)))
    Suite((j \ "queries").children.map(q => SuiteQuery(
      (q \ "name").extract[String], (q \ "family").extract[String],
      (q \ "digest").extractOpt[String])))
  }
}
