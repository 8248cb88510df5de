package perfbench

import org.apache.spark.sql.SparkSession

/** Candle-lake benchmark: one closed-loop client driving the lake's public
  * API on `local[nproc]`. See perfbench/README.md for the workloads, the
  * metrics and how to run it; perfbench/run.py is the entry point.
  *
  * Arguments: --workload NAME --seed N --seconds S --trace 0|1 --tmp DIR
  * [--spans-out FILE]. Prints one `PERFBENCH_RESULT {json}` line.
  */
object Main {

  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        tmp: String, spansOut: Option[String])

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val o = Opts(kv("workload"), kv("seed").toLong, kv("seconds").toDouble, kv("trace") == "1",
      kv("tmp"), kv.get("spans-out"))
    require(Workloads.names.contains(o.workload), s"unknown workload ${o.workload}")
    val cpus = Runtime.getRuntime.availableProcessors()
    val settings = Seq(
      "spark.master" -> s"local[$cpus]",
      // the session settings of graft.Bench
      "spark.sql.shuffle.partitions" -> cpus.toString,
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false",
      "spark.hadoop.mapreduce.fileoutputcommitter.marksuccessfuljobs" -> "false",
      // keep every file the run makes inside its scratch directory
      "spark.local.dir" -> s"${o.tmp}/spark-local",
      "spark.sql.warehouse.dir" -> s"${o.tmp}/warehouse") ++
      (if (o.trace) Seq("spark.hadoop.fs.file.impl" -> classOf[CountingLocalFs].getName) else Nil)
    val spark = settings.foldLeft(SparkSession.builder()) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    try {
      spark.sparkContext.setLogLevel("ERROR")
      if (o.trace) {
        val fs = new org.apache.hadoop.fs.Path(s"file://${o.tmp}")
          .getFileSystem(spark.sessionState.newHadoopConf())
        require(fs.isInstanceOf[CountingLocalFs], s"listing counter not installed: ${fs.getClass}")
      }
      val result = new Workloads(spark, o).run() +
        ("spark_settings" -> settings.toMap) + ("nproc" -> cpus)
      println("PERFBENCH_RESULT " + Json(result))
    } finally spark.stop()
  }
}

/** Minimal JSON writer for the result line (maps, sequences, strings, numbers). */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => "\"" + s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
        case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
      } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.sortBy(_._1.toString).map { case (k, x) => apply(k.toString) + ":" + apply(x) }
        .mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => apply(other.toString)
  }
}
