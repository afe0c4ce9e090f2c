package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables

/** ML feature engineering over `documents`: the hashing trick
  * (Weinberger et al., "Feature Hashing for Large Scale Multitask
  * Learning", ICML 2009) and linear-model inference over the hashed
  * features (the fastText-style shallow classifier shape — Joulin et
  * al., "Bag of Tricks for Efficient Text Classification", EACL 2017).
  * Together they are the score-every-document stage of a training-data
  * pipeline: quality/domain classifiers at corpus scale are linear
  * models over hashed n-gram features precisely because inference then
  * needs no vocabulary join — the feature index is a hash, the model is
  * a fixed weight vector, and the whole pass is embarrassingly parallel.
  *
  * Determinism discipline: feature indices and signs come from the
  * engine's portable md5-derived `portable_hash60` (the same hash every
  * dedup/similarity oracle mirrors), weights are small integers, and
  * scores are exact BIGINT sums — both engines agree bit-for-bit with no
  * float accumulation anywhere.
  *
  * Scale shape: one scan of `documents`, explode to tokens, one hash
  * aggregation on compact (doc_id, dim) integer keys, and for inference
  * a second hash aggregation back to doc_id. No joins (the weight
  * vector is arithmetic, not a table), no windows, no driver state. The
  * 100 TB variant is identical — feature hashing was invented for
  * exactly this regime (the model never materializes a vocabulary).
  *
  * Not in the reference (no ML surface); built for the
  * training-pipeline brief alongside dedup/similarity/text-analysis.
  */
object Features {

  /** Feature-space dimensionality. Tiny on purpose: the gate checks the
    * mechanism; real corpora use 2^18-2^22 with the identical plan. */
  val Dims = 16

  /** Signed hashed bag-of-words rows (doc_id, dim, weight): dim =
    * h % Dims, sign = parity of the next hash bits (the collision-bias
    * correction from Weinberger et al. §3 — E[collision contribution]
    * = 0 under a signed hash), weight = Σ signs of the doc's tokens
    * landing in the dim. Only dims a token actually hit are emitted
    * (sparse rows; a weight may still be 0 when signs cancel). */
  private[operators] def featureRows(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), explode(split(col("text"), "\\s+")).as("t"))
      .filter(col("t") =!= "")
      .select(col("doc_id"),
        expr(s"cast(portable_hash60(t) % $Dims as int)").as("dim"),
        expr(s"case when (portable_hash60(t) div $Dims) % 2 = 0 then 1 else -1 end")
          .cast("long").as("sgn"))
      .groupBy("doc_id", "dim")
      .agg(sum(col("sgn")).as("weight"))

  /** Hashed feature vectors as sparse (doc_id, dim, weight) rows. */
  def featureHashing(spark: SparkSession, dir: String): DataFrame =
    featureRows(spark, dir).orderBy("doc_id", "dim")

  /** Linear classifier inference over the hashed features. The model is
    * a fixed deterministic integer weight vector w(d) = (37·d mod 21) − 10
    * (spread over [−10, 10]) with bias 3 — standing in for trained
    * weights, which would ship the same way (a broadcast array or, as
    * here, pure arithmetic). score = bias + Σ_d w(d)·x_d, exact BIGINT;
    * label = keep iff score > 0. */
  def classifierScore(spark: SparkSession, dir: String): DataFrame =
    featureRows(spark, dir)
      .select(col("doc_id"),
        (col("weight") * ((col("dim") * 37) % 21 - 10).cast("long")).as("c"))
      .groupBy("doc_id")
      .agg((lit(3L) + sum(col("c"))).as("score"))
      .withColumn("label", when(col("score") > 0, "keep").otherwise("drop"))
      .orderBy("doc_id")

  /** Training epochs for [[perceptronTrain]] — fixed and small; the gate
    * pins the exact weight trajectory, PerceptronSpec pins that the
    * trajectory actually learns (mistakes shrink vs the zero model). */
  val PerceptronEpochs = 4

  /** Distributed BATCH PERCEPTRON training (Rosenblatt 1958; the batch
    * variant sums all misclassified gradients per epoch, so the update is
    * ORDER-INDEPENDENT — the property that makes training hash-gateable
    * across engines, where the classic per-row perceptron depends on row
    * order and a float SGD depends on summation order). Task: predict
    * lang='en' (y=+1) vs rest (y=−1) from the signed hashed bag-of-words
    * of [[featureRows]] plus a bias feature; everything is exact BIGINT.
    *
    * Epoch e: margin_i = Σ_d w_d·x_id; misclassified iff y_i·margin_i ≤ 0
    * (the zero model misclassifies everything, so epoch 1 is the classic
    * class-mean initializer); w += Σ_misclassified y_i·x_i.
    *
    * Scale shape — this is the fastText/quality-classifier training loop
    * at corpus scale: the model (17 ints) rides INSIDE the plan as a map
    * literal (no weight join), each epoch is one pass — a per-doc window
    * sum for margins and one dim-keyed aggregation for the gradient —
    * and only the 17-row gradient ever reaches the driver (the k-means
    * codebook pattern; epochs are fixed, not data-dependent). */
  def perceptronTrain(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val lab = Tables.documents(spark, dir).select(col("doc_id"),
      when(col("lang") === "en", 1L).otherwise(-1L).as("y"))
    // Hash-partitioned on doc_id BEFORE caching (r16 optimization): every
    // epoch's margin window partitions by doc_id, so an unpartitioned cache
    // pays one full exchange of the feature rows PER EPOCH — the cached
    // partitioning is plan metadata the optimizer reuses, turning 4
    // epoch exchanges into the single one paid here at build time.
    val fx = featureRows(spark, dir).join(lab, "doc_id")
      .select(col("doc_id"), col("dim"), col("weight").as("x"), col("y"))
      .unionByName(lab.select(col("doc_id"), lit(Dims).as("dim"), lit(1L).as("x"), col("y")))
      .repartition(col("doc_id"))
      .persist()
    val wdoc = Window.partitionBy("doc_id")
    val w = Array.fill[Long](Dims + 1)(0L)
    try {
      for (_ <- 1 to PerceptronEpochs) {
        val wExpr = expr("element_at(map(" +
          w.zipWithIndex.map { case (v, i) => s"$i, ${v}L" }.mkString(", ") + "), dim)")
        val deltas = fx
          .withColumn("mis", sum(col("x") * wExpr).over(wdoc) * col("y") <= 0)
          .filter(col("mis"))
          .groupBy("dim").agg(sum(col("y") * col("x")).as("d"))
          .collect()
        deltas.foreach(r => w(r.getAs[Int]("dim")) += r.getAs[Long]("d"))
      }
    } finally fx.unpersist()
    w.zipWithIndex.map { case (v, i) => (i, v) }.toSeq
      .toDF("dim", "w").orderBy("dim")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ta_feature_hashing" -> (featureHashing _),
    "ta_classifier_score" -> (classifierScore _),
    "ml_perceptron_train" -> (perceptronTrain _)
  )

  /** Shared oracle CTE: signed hashed token features. */
  private val featCte: String =
    s"""tok AS (SELECT doc_id, u.tk AS t
       |        FROM (SELECT doc_id, string_split_regex(text, '\\s+') AS tt
       |              FROM documents), UNNEST(tt) AS u(tk)
       |        WHERE u.tk <> ''),
       |hashed AS (SELECT doc_id, ${Dedup.dh60("t")} AS h FROM tok),
       |feat AS (SELECT doc_id, CAST(h % $Dims AS INTEGER) AS dim,
       |           CAST(SUM(CASE WHEN (h // $Dims) % 2 = 0 THEN 1 ELSE -1 END)
       |                AS BIGINT) AS weight
       |         FROM hashed GROUP BY 1, 2)""".stripMargin

  /** One oracle epoch: margins under w{e−1}, misclassified-row gradient,
    * updated weights w{e} — the literal batch-perceptron recurrence. */
  private def epochSql(e: Int): String =
    s"""m$e AS (SELECT fx.doc_id, fx.y, SUM(fx.x * w.w) AS margin
       |  FROM fx JOIN w${e - 1} w USING (dim) GROUP BY 1, 2),
       |d$e AS (SELECT fx.dim, SUM(fx.y * fx.x) AS delta
       |  FROM fx JOIN m$e ON m$e.doc_id = fx.doc_id
       |  WHERE m$e.y * m$e.margin <= 0 GROUP BY 1),
       |w$e AS (SELECT w.dim, w.w + COALESCE(d$e.delta, 0) AS w
       |  FROM w${e - 1} w LEFT JOIN d$e USING (dim))""".stripMargin

  val oracle: Map[String, String] = Map(
    "ml_perceptron_train" ->
      s"""WITH $featCte,
         |lab AS (SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE -1 END AS y
         |        FROM documents),
         |fx AS (SELECT f.doc_id, f.dim, f.weight AS x, l.y
         |       FROM feat f JOIN lab l USING (doc_id)
         |       UNION ALL SELECT doc_id, $Dims, 1, y FROM lab),
         |w0 AS (SELECT CAST(u.i AS INTEGER) AS dim, CAST(0 AS BIGINT) AS w
         |       FROM UNNEST(range(${Dims + 1})) u(i)),
         |${(1 to PerceptronEpochs).map(epochSql).mkString(",\n")}
         |SELECT dim, CAST(w AS BIGINT) AS w FROM w$PerceptronEpochs
         |ORDER BY dim""".stripMargin,
    "ta_feature_hashing" ->
      s"""WITH $featCte
         |SELECT doc_id, dim, weight FROM feat ORDER BY doc_id, dim""".stripMargin,
    "ta_classifier_score" ->
      s"""WITH $featCte
         |SELECT doc_id,
         |  3 + CAST(SUM(weight * ((dim * 37) % 21 - 10)) AS BIGINT) AS score,
         |  CASE WHEN 3 + SUM(weight * ((dim * 37) % 21 - 10)) > 0
         |       THEN 'keep' ELSE 'drop' END AS label
         |FROM feat GROUP BY doc_id ORDER BY doc_id""".stripMargin
  )
}
