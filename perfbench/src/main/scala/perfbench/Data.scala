package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.hotdog.{config, Corpus, Oracle}

/** Input generation, run as its own step before anything is timed. Every
  * table is a pure function of (seed, size), is written once as parquet
  * under the work directory, and is only read back by the measured jobs. */
object Data {

  /** Write `dir` with `write` unless a previous run already completed it
    * (Spark's `_SUCCESS` marker is the completion flag). */
  def materialize(dir: String)(write: String => Unit): Unit =
    if (!Files.exists(Paths.get(dir, "_SUCCESS"))) write(dir)

  /** The hotdog sequences corpus as `files` parquet files of about
    * `rowsPerFile` rows. */
  def hotdogCorpus(spark: SparkSession, dir: String, files: Int,
      rowsPerFile: Long, seed: Long): Unit = {
    materialize(s"$dir/sequences") { d =>
      Corpus.sequences(spark, files * rowsPerFile, seed)
        .repartition(files, col("doc_id"))
        .write.mode("overwrite").parquet(d)
    }
    ()
  }

  private val Words = Seq("spark", "window", "merge", "table", "column",
    "vector", "stream", "value", "data", "small", "join", "filter", "big",
    "group", "hash", "customer", "sort", "order", "slow", "line", "part",
    "fast", "row", "the", "agg", "key", "query", "a", "scan", "batch")

  private def h(seed: Long, c: Column, salt: String): Column =
    pmod(xxhash64(c, lit(seed), lit(salt)), lit(Long.MaxValue))

  /** `documents` and `events` in the shape of the sf testdata tables:
    * uniform words over a 30-word vocabulary, 10–100 words per document,
    * 20 sources, and every 50th document a near-copy (plus the word "dup")
    * of the document 20 ids earlier, which shares its source; events spread
    * uniformly over five types, `users` users and 30 days. */
  def opsTables(spark: SparkSession, dir: String, docs: Long, events: Long,
      seed: Long): Unit = {
    materialize(s"$dir/documents.parquet") { d =>
      val vocab = typedLit(Words)
      val src = when(col("id") % 50 === 49 && col("id") >= 20, col("id") - 20)
        .otherwise(col("id"))
      val nWords = (h(seed, src, "n") % 91 + 10).cast("int")
      val words = transform(sequence(lit(1), nWords),
        i => element_at(vocab, (pmod(xxhash64(src, i, lit(seed)), lit(Words.size.toLong)) + 1).cast("int")))
      val text = when(src =!= col("id"), concat(array_join(words, " "), lit(" dup")))
        .otherwise(array_join(words, " "))
      spark.range(0, docs, 1, 4)
        .select(col("id").as("doc_id"), text.as("text"),
          element_at(typedLit(Seq("en", "fr", "es", "zh", "de")),
            (h(seed, col("id"), "lang") % 5 + 1).cast("int")).as("lang"),
          concat(lit("src"), (col("id") % 20).cast("string")).as("source"))
        .withColumn("n_chars", length(col("text")).cast("long"))
        .coalesce(1).write.mode("overwrite").parquet(d)
    }
    materialize(s"$dir/events.parquet") { d =>
      val users = math.max(events / 66, 10L)
      val span = 30L * 86400L * 1000000L
      spark.range(0, events, 1, 4)
        .select(col("id").as("event_id"),
          timestamp_micros(lit(1704067200000000L) + col("id") * (span / events) +
            h(seed, col("id"), "jit") % (span / events)).as("ts"),
          (h(seed, col("id"), "user") % users).as("user_id"),
          element_at(typedLit(Seq("view", "click", "purchase", "signup", "error")),
            (h(seed, col("id"), "type") % 5 + 1).cast("int")).as("event_type"),
          (round(-log(((h(seed, col("id"), "val") % 100000) + 1) / 100001.0) * 50, 2))
            .as("value"),
          concat(lit("{\"k\": "), (h(seed, col("id"), "k") % 100).cast("string"),
            lit("}")).as("props"))
        .coalesce(1).write.mode("overwrite").parquet(d)
    }
    ()
  }

  /** What a correct hotdog run must report for one (corpus, config): the
    * reference cascade ([[Oracle.route]]) applied line by line. */
  final case class Expected(rows: Long, perTopic: Map[String, Long],
      parsed: Long, mergeInvalid: Long, mergeTarget: Long, topicFailed: Long,
      emittedTokensFp: Long, emittedIdsFp: Long) {
    def emitted: Long = perTopic.values.sum

    /** The /stats counters, except the kafka.producer.sent timer. */
    def stats: Map[String, Long] =
      perTopic.map { case (t, n) => s"kafka.submitted.$t" -> n } ++ Map(
        "kafka.submitted" -> emitted,
        "lines" -> parsed,
        "error.log_parse" -> (rows - parsed),
        "error.merge_of_invalid_json" -> mergeInvalid,
        "error.merge_target_not_json" -> mergeTarget,
        "error.topic_parse_failed" -> topicFailed,
        "connections" -> 0L,
        "error.full_internal_queue" -> 0L,
        "error.internal_push_failed" -> 0L)

    def encode: String = (Seq(s"rows=$rows", s"parsed=$parsed",
      s"merge_invalid=$mergeInvalid", s"merge_target=$mergeTarget",
      s"topic_failed=$topicFailed", s"tokens_fp=$emittedTokensFp",
      s"ids_fp=$emittedIdsFp") ++
      perTopic.toSeq.sorted.map { case (t, n) => s"topic.$t=$n" }).mkString("\n")
  }

  object Expected {
    def decode(s: String): Expected = {
      val kv = s.split("\n").filter(_.nonEmpty).map { l =>
        val i = l.lastIndexOf('='); l.take(i) -> l.drop(i + 1).toLong
      }
      val m = kv.toMap
      Expected(m("rows"),
        kv.collect { case (k, v) if k.startsWith("topic.") => k.drop(6) -> v }.toMap,
        m("parsed"), m("merge_invalid"), m("merge_target"), m("topic_failed"),
        m("tokens_fp"), m("ids_fp"))
    }
  }

  /** Fingerprints shared by the oracle and the correctness gate. */
  def tokensFp: Column = xxhash64(col("doc_id"), col("tokens"))
  def idsFp: Column = xxhash64(col("doc_id"))

  private final class Acc extends Serializable {
    var rows, parsed, mi, mt, tpf, tokFp, idFp = 0L
    val topics = scala.collection.mutable.HashMap.empty[String, Long]
    def add(o: Acc): Acc = {
      rows += o.rows; parsed += o.parsed; mi += o.mi; mt += o.mt
      tpf += o.tpf; tokFp ^= o.tokFp; idFp ^= o.idFp
      o.topics.foreach { case (t, n) => topics(t) = topics.getOrElse(t, 0L) + n }
      this
    }
  }

  /** Oracle counts for the sequences under `inputDir` and the config
    * `yaml`, computed once and cached in `cacheFile`. */
  def expected(spark: SparkSession, inputDir: String, yaml: String,
      cacheFile: String): Expected = {
    val cache = Paths.get(cacheFile)
    if (Files.exists(cache)) return Expected.decode(Files.readString(cache))
    val rows = spark.read.parquet(inputDir)
      .select(col("tokens"), tokensFp.as("tfp"), idsFp.as("ifp"))
      .rdd
    val acc = rows.mapPartitions { it =>
      val cfg = config.fromYamlString(yaml)
      val a = new Acc
      it.foreach { r =>
        val cps = r.getSeq[Int](0).toArray
        val o = Oracle.route(new String(cps, 0, cps.length), cfg,
          "2024-01-01T00:00:00.000000+00:00")
        a.rows += 1
        if (o.parseOk) a.parsed += 1
        a.mi += o.mergeInvalidJson
        a.mt += o.mergeTargetNotJson
        a.tpf += o.topicParseFailed
        o.topic.foreach { t =>
          a.topics(t) = a.topics.getOrElse(t, 0L) + 1
          a.tokFp ^= r.getLong(1)
          a.idFp ^= r.getLong(2)
        }
      }
      Iterator(a)
    }.collect().foldLeft(new Acc)(_ add _)
    val e = Expected(acc.rows, acc.topics.toMap, acc.parsed, acc.mi, acc.mt,
      acc.tpf, acc.tokFp, acc.idFp)
    writeAtomically(cache, e.encode)
    e
  }

  def writeAtomically(p: Path, s: String): Unit = {
    val tmp = p.resolveSibling(p.getFileName.toString + ".tmp")
    Files.write(tmp, s.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, p, java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    ()
  }
}
