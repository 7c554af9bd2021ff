package graftbench

/** Entry point: `--workload <name> --seed <n> --seconds <s> --trace <0|1>
  * --work <dir> --artifact <file>`. Prints one JSON line
  * `{"correct":…,"attempted":…,"failed":…,"metrics":{name: value}}`; the
  * full run record (ops, spans, box forensics) goes to the artifact file. */
object Main {
  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val a = Args(kv("workload"), kv("seed").toLong, kv("seconds").toDouble,
      kv("trace") == "1", kv("work"), kv("artifact"))
    val w: Workload = a.workload match {
      case "crawl_fresh"   => new CrawlFresh(a.seed)
      case "recrawl_delta" => new RecrawlDelta(a.seed)
      case other           => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val r = Runner.run(w, a)
    val m = r.metrics.map { case (k, v) => s"${Util.jsonStr(k)}:${Util.jsonNum(v)}" }
      .mkString("{", ",", "}")
    println(s"""{"correct":${r.correct},"attempted":${r.attempted},"failed":${r.failed},"metrics":$m}""")
  }
}
