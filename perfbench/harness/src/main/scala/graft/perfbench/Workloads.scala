package graft.perfbench

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.ml.{Estimator, Model}
import org.apache.spark.ml.classification.LogisticRegression
import org.apache.spark.ml.evaluation.{BinaryClassificationEvaluator, Evaluator}
import org.apache.spark.ml.feature.VectorAssembler
import org.apache.spark.ml.param.ParamMap
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.engine.{GQuery, Registry, Tables}
import graft.ml.{GridSearchCV, KeyedModels}

/** A workload: a fixed list of operations, run in warmup passes and then
  * in timed passes. `run` is the timed call; `beforePass`, `check` and
  * `afterOp` run outside the timed window. `check` returns the reason an
  * output is wrong, or None. */
trait Workload {
  def ops: Seq[String]
  def load(): Unit
  def beforePass(): Unit = ()
  def run(op: String): Any
  def reference(op: String, out: Any): Unit
  def check(op: String, out: Any): Option[String]
  def afterOp(op: String, traced: Boolean): Unit = ()
  /** Untimed work after the last pass (dumping outputs for the oracle). */
  def finish(outDir: String): Unit = ()
  def planShapes: Map[String, PlanShape] = Map.empty
}

/** Declared queries, each timed from `GQuery.run` to its collected rows.
  * Every timed output must equal the warmup output row for row; the
  * warmup output itself is dumped for the DuckDB oracle check.
  *
  * The program writes each lake fixture (`graft.sources.Lake`) once per
  * JVM, on first use. Before every pass the workload makes it forget
  * those writes, so the pass's first lake-backed query writes its fixture
  * again inside its timed window: the write path is timed on every pass,
  * and a read-path gain that costs writes shows in `run_s`. */
final class QueryWorkload(spark: SparkSession, data: String, val ops: Seq[String])
    extends Workload {
  private val queries: Map[String, GQuery] =
    Trace.span("engine.registry")(Registry.byName)
  private val refs = mutable.LinkedHashMap.empty[String, Array[Row]]
  private val schemas = mutable.Map.empty[String, StructType]
  private val shapes = mutable.LinkedHashMap.empty[String, PlanShape]
  private var lastDf: DataFrame = _

  def load(): Unit = {
    Seq[(SparkSession, String) => DataFrame](Tables.region, Tables.nation,
      Tables.customer, Tables.supplier, Tables.part, Tables.orders,
      Tables.lineitem, Tables.documents, Tables.embeddings, Tables.events)
      .foreach(t => t(spark, data).schema)
    ops.foreach(q => require(queries.contains(q), s"unknown query $q"))
  }

  override def beforePass(): Unit = QueryWorkload.forgetLakeWrites()

  def run(op: String): Any = Trace.span("operators.query") {
    val df = Trace.span("operators.build")(queries(op).run(spark, data))
    lastDf = df
    Trace.span("operators.materialize")(Timed.materialize(df))
  }

  def reference(op: String, out: Any): Unit = {
    refs(op) = out.asInstanceOf[Array[Row]]
    schemas(op) = lastDf.schema
  }

  def check(op: String, out: Any): Option[String] = refs.get(op) match {
    case None => Some("no warmup output to compare with")
    case Some(ref) =>
      val rows = out.asInstanceOf[Array[Row]]
      if (rows.length != ref.length) Some(s"${rows.length} rows, warmup had ${ref.length}")
      else rows.indices.find(i => rows(i) != ref(i))
        .map(i => s"row $i differs from warmup: ${rows(i)} vs ${ref(i)}")
  }

  override def afterOp(op: String, traced: Boolean): Unit = {
    if (traced) shapes(op) = PlanShape.of(lastDf)
    lastDf = null
    // a finished query's localCheckpoint blocks are never read again
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
  }

  /** Write each warmup output (as collected) plus its oracle SQL for the
    * DuckDB check that runs after this JVM exits. */
  override def finish(outDir: String): Unit = {
    import scala.jdk.CollectionConverters._
    refs.foreach { case (q, rows) =>
      spark.createDataFrame(rows.toSeq.asJava, schemas(q)).coalesce(1)
        .write.mode("overwrite").parquet(s"$outDir/ref/$q")
    }
    Json.write(s"$outDir/oracle_sql.json",
      refs.keys.flatMap(q => queries(q).oracle.map(q -> _)).toMap)
  }

  override def planShapes: Map[String, PlanShape] = shapes.toMap
}

object QueryWorkload {
  /** The declared-query workloads; perfbench/README.md states how each
    * list was chosen. */
  val Lists: Map[String, Seq[String]] = Map(
    // select_query_mix.py prints this list from tail_survey.json
    "query_mix" -> Seq("q_source_jsonl", "q_join_asof_fwd", "q_arrayagg", "q_periodogram",
      "q_simpson", "q_set_all", "q_moods_median", "q_band_sweep_xl", "q_funnel", "q_join_q9"),
    "llm_dedup" -> Seq("q_jaccard_prefix_xxl", "q_er_match_xxl", "q_dedup_edit", "q_sim_topk"))

  /** The workload's ops in the order the seed sets. */
  def ops(workload: String, seed: Long): Seq[String] = Lists.get(workload) match {
    case Some(qs) => new Random(seed).shuffle(qs)
    case None => throw new IllegalArgumentException(s"unknown workload $workload")
  }

  /** Clear `Lake`'s record of the fixtures this JVM has written; the next
    * `Lake.ensure*` call then writes its fixture again. */
  def forgetLakeWrites(): Unit = {
    val lake = graft.sources.Lake
    val field = lake.getClass.getDeclaredFields.find(_.getName.endsWith("written")).getOrElse(
      throw new IllegalStateException("graft.sources.Lake has no `written` record to clear"))
    field.setAccessible(true)
    lake.synchronized(field.get(lake).asInstanceOf[mutable.Set[String]].clear())
  }
}

/** Times `fit` calls of the wrapped estimator. A fit on the thread that
  * started the search is the final refit; the rest are fold fits. */
final class TimedEstimator[M <: Model[M]](inner: Estimator[M], searchThread: Thread)
    extends Estimator[M] {
  override val uid: String = inner.uid
  private def timed(f: => M): M =
    Trace.span(if (Thread.currentThread() eq searchThread) "ml.refit" else "ml.fit")(f)
  override def fit(dataset: Dataset[_]): M = timed(inner.fit(dataset))
  override def fit(dataset: Dataset[_], paramMap: ParamMap): M = timed(inner.fit(dataset, paramMap))
  override def copy(extra: ParamMap): TimedEstimator[M] =
    new TimedEstimator(inner.copy(extra), searchThread)
  override def transformSchema(schema: StructType): StructType = inner.transformSchema(schema)
}

final class TimedEvaluator(inner: Evaluator) extends Evaluator {
  override val uid: String = inner.uid
  override def evaluate(dataset: Dataset[_]): Double = Trace.span("ml.eval")(inner.evaluate(dataset))
  override def isLargerBetter: Boolean = inner.isLargerBetter
  override def copy(extra: ParamMap): TimedEvaluator = new TimedEvaluator(inner.copy(extra))
}

/** The paper's workload: `GridSearchCV` over logistic regression on a
  * cached lineitem-derived feature frame, then per-supplier
  * `KeyedModels.fitLogistic` (IRLS) and `fitLinear`, each one op together
  * with its transform-and-score. The seed picks the op order, the candidates and
  * the fold assignment. */
final class MlWorkload(spark: SparkSession, data: String, seed: Long, cores: Int) extends Workload {
  import MlWorkload._

  val ops: Seq[String] =
    new Random(seed).shuffle(Seq("search", "logistic", "linear"))

  private var frame: DataFrame = _
  private var sample: Map[Long, Array[Row]] = Map.empty
  private var recorded: Option[(String, Double)] = None

  private val lr = new LogisticRegression().setMaxIter(LrIter)
  // Every candidate is an L2 fit that runs all `LrIter` L-BFGS steps, so
  // a search costs the same whichever candidates the seed draws.
  private val grid: Array[ParamMap] =
    new Random(seed + 1).shuffle(Seq(1e-4, 3e-4, 1e-3, 3e-3, 1e-2, 3e-2, 0.1, 0.3))
      .take(Candidates).map(reg => ParamMap(lr.regParam -> reg)).toArray

  def load(): Unit = {
    val li = Tables.lineitem(spark, data)
    val net = col("l_extendedprice") * (lit(1.0) - col("l_discount")) / 1e4
    // label = net price plus bounded hash noise over a cut: predictable
    // from the features, never separable, so IRLS converges
    val noise = (pmod(xxhash64(col("l_orderkey"), col("l_linenumber")), lit(1000L))
      .cast("double") / 1000.0 - 0.5) * 4.0
    val base = li.select(
      col("l_suppkey"),
      (col("l_quantity") / 10.0).as("f_qty"),
      (col("l_discount") * 10.0).as("f_disc"),
      (col("l_tax") * 10.0).as("f_tax"),
      (col("l_extendedprice") / 1e4).as("f_price"),
      net.as("y_lin"),
      (net + noise > 5.0).cast("double").as("label"))
    frame = new VectorAssembler().setInputCols(Features.toArray).setOutputCol("features")
      .transform(base).cache()
    frame.count()
    val keys = frame.select("l_suppkey").distinct().collect().map(_.getLong(0)).sorted
    val picked = new Random(seed + 2).shuffle(keys.toSeq).take(CheckKeys).toSet
    sample = frame.filter(col("l_suppkey").isin(picked.toSeq: _*))
      .select((Seq("l_suppkey") ++ Features ++ Seq("y_lin", "label")).map(col): _*)
      .collect().groupBy(_.getLong(0))
  }

  def run(op: String): Any = op match {
    case "search" => Trace.span("ml.search") {
      val est = new TimedEstimator(lr, Thread.currentThread())
      GridSearchCV(est, grid, new TimedEvaluator(new BinaryClassificationEvaluator()),
        numFolds = Folds, parallelism = cores, seed = seed).fit(frame)
    }
    case "logistic" =>
      val m = Trace.span("ml.keyed_fit") {
        KeyedModels.fitLogistic(frame, Key, Features, "label", iters = IrlsIter)
      }
      Keyed(m.collect(), Trace.span("ml.keyed_transform") {
        KeyedModels.scoreLogistic(frame, m, Key, Features, "label").collect()
      })
    case "linear" =>
      val m = KeyedModels.fitLinear(frame, Key, LinFeatures, "y_lin")
      // fitLinear is lazy: its Gram pass runs when the model table is collected
      val rows = Trace.span("ml.keyed_fit")(m.collect())
      Keyed(rows, Trace.span("ml.keyed_transform") {
        KeyedModels.scoreLinear(frame, m, Key, LinFeatures, "y_lin").collect()
      })
  }

  def reference(op: String, out: Any): Unit = out match {
    case r: graft.ml.SearchResult if recorded.isEmpty =>
      recorded = Some(describe(r.bestParams) -> r.bestScore)
    case _ => ()
  }

  def check(op: String, out: Any): Option[String] = op match {
    case "search" =>
      val r = out.asInstanceOf[graft.ml.SearchResult]
      val best = r.cvResults.map(_._2).max
      recorded match {
        case None => Some("no recorded search result")
        case Some((params, score)) =>
          if (describe(r.bestParams) != params) Some(s"best ${describe(r.bestParams)}, recorded $params")
          else if (!close(r.bestScore, score, SearchTol)) Some(s"score ${r.bestScore}, recorded $score")
          else if (r.bestScore != best) Some(s"best score ${r.bestScore} is not the top mean $best")
          else if (r.bestScore < AucFloor) Some(s"AUC ${r.bestScore} below $AucFloor")
          else None
      }
    case "logistic" =>
      val k = out.asInstanceOf[Keyed]
      byKey(k.models)((key, row) => compareCoef(row, irls(sample(key), IrlsIter)))
        .orElse(scored(k) { (key, row, beta) =>
          val (acc, loss) = logisticScore(sample(key), beta)
          val n = sample(key).length
          if (math.abs(row.getAs[Double]("accuracy") - acc) > 1.0 / n + 1e-12)
            Some(s"key $key accuracy ${row.getAs[Double]("accuracy")}, driver $acc")
          else if (!close(row.getAs[Double]("logloss"), loss, 1e-9))
            Some(s"key $key logloss ${row.getAs[Double]("logloss")}, driver $loss")
          else None
        })
    case "linear" =>
      val k = out.asInstanceOf[Keyed]
      byKey(k.models)((key, row) => compareCoef(row, ols(sample(key))))
        .orElse(scored(k) { (key, row, beta) =>
          val (r2, rmse) = linearScore(sample(key), beta)
          if (!close(row.getAs[Double]("r2"), r2, 1e-6)) Some(s"key $key r2 ${row.getAs[Double]("r2")}, driver $r2")
          else if (!close(row.getAs[Double]("rmse"), rmse, 1e-6)) Some(s"key $key rmse ${row.getAs[Double]("rmse")}, driver $rmse")
          else None
        })
  }

  /** Every key has a row; the sampled keys' rows pass `f`. */
  private def byKey(rows: Array[Row])(f: (Long, Row) => Option[String]): Option[String] = {
    val got = rows.map(r => r.getAs[Long]("l_suppkey") -> r).toMap
    if (rows.length != got.size) Some("duplicate keys in the model table")
    else sample.keys.toSeq.sorted.iterator.map { k =>
      got.get(k).fold[Option[String]](Some(s"key $k missing"))(f(k, _))
    }.collectFirst { case Some(e) => e }
  }

  /** The sampled keys' score rows pass `f`, given the key's fitted model. */
  private def scored(k: Keyed)(f: (Long, Row, Array[Double]) => Option[String]): Option[String] = {
    val coef = k.models.map(r => r.getAs[Long]("l_suppkey") -> beta(r)).toMap
    byKey(k.scores)((key, row) => f(key, row, coef(key)))
  }
}

object MlWorkload {
  /** Search size: 2 of 8 candidates, 3 folds, 4 L-BFGS steps per fit. */
  val Candidates = 2
  val Folds = 3
  val LrIter = 4
  /** IRLS iterations of the keyed logistic fit. */
  val IrlsIter = 4
  /** Keys whose fits and scores are checked against the driver's solve. */
  val CheckKeys = 3

  /** Output of a keyed op: the model table and its per-key scores. */
  final case class Keyed(models: Array[Row], scores: Array[Row])

  val Key: Seq[String] = Seq("l_suppkey")
  val Features: Seq[String] = Seq("f_qty", "f_disc", "f_tax", "f_price")
  val LinFeatures: Seq[String] = Seq("f_qty", "f_disc", "f_tax")
  /** Stated tolerances: a repeated search must reproduce the recorded
    * best mean AUC to 1e-9 (relative) and beat the floor; keyed models
    * must match the driver's solve to 1e-6 (relative, floor 1). */
  val SearchTol = 1e-9
  val AucFloor = 0.75
  val CoefTol = 1e-6

  def close(a: Double, b: Double, tol: Double): Boolean =
    math.abs(a - b) <= tol * math.max(1.0, math.abs(b))

  def describe(pm: ParamMap): String =
    pm.toSeq.map(p => s"${p.param.name}=${p.value}").sorted.mkString(",")

  /** [intercept, coefficients...] of a model-table row. */
  def beta(r: Row): Array[Double] =
    r.getAs[Double]("intercept") +: r.getAs[Seq[Double]]("coefficients").toArray

  private def compareCoef(row: Row, want: Array[Double]): Option[String] = {
    val got = beta(row)
    if (got.length != want.length) Some(s"${got.length} coefficients, driver ${want.length}")
    else got.indices.find(i => !close(got(i), want(i), CoefTol))
      .map(i => s"key ${row.getAs[Long]("l_suppkey")} coefficient $i: ${got(i)} vs driver ${want(i)}")
  }

  private def xs(r: Row, nf: Int): Array[Double] = Array.tabulate(nf)(i => r.getDouble(1 + i))

  /** Same fold as the program's margin expression: intercept + Σ x·c. */
  private def margin(x: Array[Double], b: Array[Double]): Double = {
    var s = 0.0
    var i = 0
    while (i < x.length) { s = s + x(i) * b(i + 1); i += 1 }
    b(0) + s
  }

  /** Solve (XᵀWX + ridge·I)β = XᵀWz with an intercept column. */
  private def solve(x: Seq[Array[Double]], z: Seq[Double], w: Seq[Double], ridge: Double): Array[Double] = {
    val d = x.head.length + 1
    val a = Array.ofDim[Double](d, d + 1)
    x.indices.foreach { n =>
      val v = 1.0 +: x(n)
      for (i <- 0 until d) {
        for (j <- 0 until d) a(i)(j) += w(n) * v(i) * v(j)
        a(i)(d) += w(n) * v(i) * z(n)
      }
    }
    for (i <- 0 until d) a(i)(i) += ridge
    for (c <- 0 until d) {
      val p = (c until d).maxBy(r => math.abs(a(r)(c)))
      val t = a(c); a(c) = a(p); a(p) = t
      for (r <- 0 until d if r != c) {
        val f = a(r)(c) / a(c)(c)
        for (k <- c to d) a(r)(k) -= f * a(c)(k)
      }
    }
    Array.tabulate(d)(i => a(i)(d) / a(i)(i))
  }

  /** Per-key OLS by the normal equations (features = LinFeatures). */
  def ols(rows: Array[Row]): Array[Double] = {
    val x = rows.toSeq.map(xs(_, LinFeatures.size))
    solve(x, rows.toSeq.map(_.getAs[Double]("y_lin")), Seq.fill(rows.length)(1.0), 0.0)
  }

  /** Per-key IRLS with the program's iteration count, weight floor and
    * 1e-9·n ridge, from zero coefficients. */
  def irls(rows: Array[Row], iters: Int): Array[Double] = {
    val x = rows.toSeq.map(xs(_, Features.size))
    val y = rows.toSeq.map(_.getAs[Double]("label"))
    var b = Array.fill(Features.size + 1)(0.0)
    for (_ <- 1 to iters) {
      val eta = x.map(margin(_, b))
      val mu = eta.map(e => 1.0 / (1.0 + math.exp(-e)))
      val w = mu.map(m => math.max(m * (1.0 - m), 1e-6))
      val z = eta.indices.map(i => eta(i) + (y(i) - mu(i)) / w(i))
      b = solve(x, z, w, 1e-9 * rows.length)
    }
    b
  }

  def logisticScore(rows: Array[Row], b: Array[Double]): (Double, Double) = {
    val ps = rows.toSeq.map(r => 1.0 / (1.0 + math.exp(-margin(xs(r, Features.size), b))))
    val y = rows.toSeq.map(_.getAs[Double]("label"))
    val acc = ps.zip(y).count { case (p, l) => (if (p >= 0.5) 1.0 else 0.0) == l }.toDouble / rows.length
    val loss = ps.zip(y).map { case (p0, l) =>
      val p = math.max(math.min(p0, 1.0 - 1e-12), 1e-12)
      -(l * math.log(p) + (1.0 - l) * math.log(1.0 - p))
    }.sum / rows.length
    (acc, loss)
  }

  def linearScore(rows: Array[Row], b: Array[Double]): (Double, Double) = {
    val y = rows.toSeq.map(_.getAs[Double]("y_lin"))
    val pred = rows.toSeq.map(r => margin(xs(r, LinFeatures.size), b))
    val sse = y.zip(pred).map { case (a, p) => (a - p) * (a - p) }.sum
    val n = rows.length.toDouble
    val sst = y.map(v => v * v).sum - y.sum * y.sum / n
    (1.0 - sse / sst, math.sqrt(sse / n))
  }
}
