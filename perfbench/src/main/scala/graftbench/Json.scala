package graftbench

/** The little JSON the harness needs: flat string maps (references) in,
  * objects out. */
object Json {

  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString

  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")

  /** Parses `{"k": "v", ...}` with string values only (the reference
    * file's shape). */
  def parseFlat(text: String): Map[String, String] = {
    val pair = "\"((?:[^\"\\\\]|\\\\.)*)\"\\s*:\\s*\"((?:[^\"\\\\]|\\\\.)*)\"".r
    pair.findAllMatchIn(text).map(m => m.group(1) -> m.group(2)).toMap
  }

  def writeFlat(path: String, m: Map[String, String]): Unit =
    write(path, m.toSeq.sortBy(_._1).map { case (k, v) => s"  ${str(k)}: ${str(v)}" }
      .mkString("{\n", ",\n", "\n}\n"))

  def writeTrace(path: String, workload: String, seed: Long, metrics: Map[String, Double],
                 planFp: Map[String, String], top: Seq[(String, Double)], spans: Seq[Span]): Unit = {
    val self = Tracer.selfTimes(spans)
    val spanJson = spans.sortBy(s => (s.startMs, s.id)).map { s =>
      val (parent, selfMs) = self.getOrElse(s.id, (0L, s.durMs))
      obj(Seq("id" -> s.id.toString, "parent" -> parent.toString, "kind" -> str(s.kind),
        "name" -> str(s.name), "layer" -> str(s.layer), "start_ms" -> s.startMs.toString,
        "dur_ms" -> s.durMs.toString, "self_ms" -> selfMs.toString) ++
        s.attrs.toSeq.sortBy(_._1).map { case (k, v) => k -> num(v) })
    }
    write(path, obj(Seq(
      "workload" -> str(workload), "seed" -> seed.toString,
      "top_layers" -> top.map { case (k, v) => obj(Seq("layer" -> str(k), "s" -> num(v))) }
        .mkString("[", ",", "]"),
      "metrics" -> obj(metrics.toSeq.sortBy(_._1).map { case (k, v) => k -> num(v) }),
      "plan_fp" -> obj(planFp.toSeq.sortBy(_._1).map { case (k, v) => k -> str(v) }),
      "spans" -> spanJson.mkString("[\n", ",\n", "]"))) + "\n")
  }

  private def write(path: String, text: String): Unit = {
    val f = new java.io.File(path)
    Option(f.getParentFile).foreach(_.mkdirs())
    val w = new java.io.PrintWriter(f, "UTF-8")
    try w.print(text) finally w.close()
  }
}
