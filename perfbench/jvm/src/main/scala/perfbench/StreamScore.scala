package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}

import scala.collection.mutable.ArrayBuffer
import scala.util.Random

import org.apache.spark.ml.PipelineModel
import org.apache.spark.ml.classification.RandomForestClassificationModel
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.ml.MLQueries
import graft.pipeline.{FraudPipeline, Sampling}

/** `stream_score`: the reference pipeline's train and predict stages.
  *
  * Set-up splits `embeddings` 70/30 as FraudPipeline does, fits the
  * VectorAssembler -> RandomForest(100 trees, depth 10, seed 42) pipeline
  * on the train split, persists it and scores the test split in batch:
  * those predictions are what every streamed event must match. It ends
  * with an untimed burst of events through the running query.
  *
  * Phase (a), open loop for the run's seconds: a generator thread writes
  * JSON-lines files of [[PerFile]] events (test rows under fresh ids) into
  * the source directory at a fixed interval, each event stamped with its
  * file's due time, while a query with the plan of FraudPipeline.predict decodes, scores and
  * writes the text sink. Phase (b): FraudPipeline.predict drains a fixed
  * pre-written backlog (AvailableNow) [[Drains]] times. */
object StreamScore {
  /** The reference producer (graft.streaming.Replay's model) emits at a
    * fixed interval, one event every 2 s. At that rate a run sees a handful
    * of events; event_ms.p99 needs 1,000 (10 beyond it), so the rate is the
    * one that gives 1,000 events in the benchmark's 8 s run. It is below a
    * fifth of the AvailableNow drain rate of the same pipeline (phase (b)),
    * so latency measures the pipeline, not a growing backlog. */
  val RatePerS = 125.0
  /** Events per file in both phases: one second of events, one file a
    * second. A micro-batch of one file takes about 0.4 s on a 4-core host
    * (stream.batch_ms.p50), well inside the second between files, so every
    * file is scored by a batch of its own. With files closer together than a batch takes, batches
    * would coalesce files, and latency would jump with small changes in
    * batch time. */
  val PerFile = 125
  /** Spark's default trigger: a micro-batch starts as soon as the previous
    * one ends and input is there, so no fixed interval is added to each
    * event's latency. */
  val TriggerMs = 0L
  val Drains = 3
  val WarmEvents = 400

  def run(spark: SparkSession, data: String, runDir: Path, seed: Long,
          seconds: Double, tracer: Option[Tracer]): Map[String, Any] = {
    val split = Sampling.rankedByClass(graft.Tables(spark, data, "embeddings"), "label",
        md5(concat(lit("42:"), col("vec_id").cast("string"))), "vec_id")
      .withColumn("is_train", col("rn") <= ceil(col("n_class") * 0.7).cast("long"))
    val modelDir = runDir.resolve("model").toString

    // Set-up: fit, persist, and score the test split in batch.
    val train = MLQueries.withAssemblerInputs(
      split.filter(col("is_train")).select("vec_id", "embedding", "label"))
    val t0 = System.nanoTime()
    val fitted = MLQueries.pipeline().fit(train)
    val trainS = (System.nanoTime() - t0) / 1e9
    fitted.write.overwrite().save(modelDir)
    val expected = PipelineModel.load(modelDir)
      .transform(MLQueries.withAssemblerInputs(
        split.filter(!col("is_train")).select("vec_id", "embedding", "label")))
      .select("vec_id", "prediction").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val test = split.filter(!col("is_train"))
      .select(col("vec_id"), to_json(col("embedding")).as("emb"), col("label"))
      .orderBy("vec_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2)))
    def line(id: Long, src: Int): String = {
      val (_, emb, label) = test(src)
      s"""{"vec_id":$id,"embedding":$emb,"label":$label}"""
    }
    val rng = new Random(seed)
    def writeAtomically(dir: Path, name: String, lines: Seq[String]): Unit = {
      val tmp = dir.resolve(s".$name.tmp")
      Files.writeString(tmp, lines.mkString("", "\n", "\n"))
      Files.move(tmp, dir.resolve(name), StandardCopyOption.ATOMIC_MOVE)
    }

    // phase (b) backlog, written once: as many events as phase (a) streams
    val n = (RatePerS * seconds).toInt
    val backlogDir = Files.createDirectories(runDir.resolve("backlog"))
    val backlog = (0 until n).map(k => (2000000L + k, rng.nextInt(test.length)))
    backlog.grouped(PerFile).zipWithIndex.foreach { case (evs, f) =>
      writeAtomically(backlogDir, f"part-$f%05d.json", evs.map { case (id, s) => line(id, s) })
    }

    // ---- phase (a): open-loop generator against a processing-time query
    val srcDir = Files.createDirectories(runDir.resolve("source"))
    val sinkDir = runDir.resolve("sink")
    val model = PipelineModel.load(modelDir)
    val dim = model.stages.last.asInstanceOf[RandomForestClassificationModel].numFeatures - 2
    val scored = model.transform(MLQueries.withAssemblerInputs(
        spark.readStream.schema(FraudPipeline.recordSchema).json(srcDir.toString), Some(dim)))
      .select(to_json(struct(col("vec_id"), col("label").as("actual_label"),
        col("prediction").as("predicted_label"))).as("value"))
    tracer.foreach(_.traceBackground(spark))
    val query = scored.writeStream.format("text")
      .option("path", sinkDir.toString)
      .option("checkpointLocation", runDir.resolve("checkpoint").toString)
      .outputMode("append")
      .trigger(Trigger.ProcessingTime(TriggerMs))
      .start()
    spark.sparkContext.setLocalProperty(Tracer.OpKey, null)
    // warm-up burst through the running query, checked but not timed
    val warm = (0 until WarmEvents).map(k => (900000L + k, rng.nextInt(test.length)))
    writeAtomically(srcDir, "warm.json", warm.map { case (id, s) => line(id, s) })
    query.processAllAvailable()
    // set-up: fit, persist, batch score, backlog, query start and warm-up
    val setupS = (System.nanoTime() - t0) / 1e9
    val firstBatch = query.lastProgress.batchId + 1

    val srcOf = Array.fill(n)(rng.nextInt(test.length))
    val due = new Array[Double](n)
    val written = new Array[Double](n)
    val mark = Host.mark()
    val first = Clock.nowMs() + 100.0
    (0 until n).foreach(k => due(k) = first + (k / PerFile) * PerFile * 1000.0 / RatePerS)
    val generator = new Thread(() => {
      (0 until n by PerFile).foreach { k =>
        var wait = due(k) - Clock.nowMs()
        while (wait > 0) {
          java.util.concurrent.locks.LockSupport.parkNanos((wait * 1e6).toLong)
          wait = due(k) - Clock.nowMs()
        }
        val end = math.min(n, k + PerFile)
        writeAtomically(srcDir, f"part-$k%06d.json", (k until end).map(j => line(1000000L + j, srcOf(j))))
        val w = Clock.nowMs()
        (k until end).foreach(j => written(j) = w)
      }
    }, "perfbench-generator")
    generator.setDaemon(true)
    generator.start()
    generator.join()
    query.processAllAvailable()
    query.stop()
    val progress = query.recentProgress.map { p =>
      Map("batch" -> p.batchId,
        "start" -> java.time.Instant.parse(p.timestamp).toEpochMilli,
        "rows" -> p.numInputRows,
        "duration" -> p.durationMs.entrySet().toArray.map(_.asInstanceOf[java.util.Map.Entry[String, java.lang.Long]])
          .map(e => e.getKey -> e.getValue.longValue).toMap)
    }.toSeq

    // ---- phase (b): drain the backlog, a fixed number of times
    val drains = ArrayBuffer.empty[Map[String, Any]]
    for (d <- 0 until Drains) {
      val out = runDir.resolve(s"drain-$d").toString
      val traced = tracer.isDefined && d % 2 == 0
      val s0 = System.nanoTime()
      val ok = try {
        def drain(): Unit = FraudPipeline.predict(spark,
          FraudPipeline.Artifacts(modelDir, backlogDir.toString, out, backlog.size))
          .awaitTermination()
        tracer.fold(drain())(_.op(spark, "drain", s"drain-$d", traced)(drain()))
        true
      } catch { case e: Exception =>
        System.err.println(s"[perfbench] drain $d failed: ${e.getMessage}")
        false
      }
      drains += Map("dir" -> out, "s" -> (System.nanoTime() - s0) / 1e9, "ok" -> ok, "traced" -> traced)
    }
    val host = mark.since()

    // static scoring throughput of the model layer alone (traced runs only)
    val scoreS = if (tracer.isEmpty) Seq.empty else {
      val static = split.filter(!col("is_train"))
        .select("vec_id", "embedding", "label").localCheckpoint()
      (0 until 3).map { _ =>
        val s0 = System.nanoTime()
        model.transform(MLQueries.withAssemblerInputs(static)).select("prediction").collect()
        (System.nanoTime() - s0) / 1e9
      }
    }

    Map("setup_s" -> setupS,
      "train_s" -> trainS,
      "query_id" -> query.id.toString, "first_batch" -> firstBatch, "warm_events" -> warm.map { case (id, s) => Seq(id, s) }, "expected" -> expected.map {
        case (k, v) => k.toString -> v },
      "labels" -> test.map { case (id, _, l) => id.toString -> l }.toMap,
      "test_ids" -> test.map(_._1).toSeq,
      "events" -> (0 until n).map(k => Seq(1000000L + k, srcOf(k), due(k), written(k))),
      "backlog" -> backlog.map { case (id, s) => Seq(id, s) },
      "sink" -> sinkDir.toString, "progress" -> progress, "drains" -> drains,
      "score_s" -> scoreS, "test_rows" -> test.length, "rate_per_s" -> RatePerS,
      "trigger_ms" -> TriggerMs, "host" -> host)
  }
}
