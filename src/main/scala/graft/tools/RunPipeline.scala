package graft.tools

import graft.pipeline.{ConfigLoader, Registry}

/** `transporter run` / `test` / `init` / `about` analogue
  * (`cmd/transporter/run.go:3-22`, `test.go:7-27`, `init.go`, `about.go`):
  *
  *   runMain graft.tools.RunPipeline <config.json>            # run it
  *   runMain graft.tools.RunPipeline --test <config.json>     # print the tree
  *   runMain graft.tools.RunPipeline about [adaptor]          # registry info
  *   runMain graft.tools.RunPipeline init <src> <sink> [out]  # sample config
  */
object RunPipeline {

  private def jsonValue(v: Any): String = v match {
    case s: String => "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    case seq: Seq[_] => seq.map(jsonValue).mkString("[", ", ", "]")
    case m: Map[_, _] => m.map { case (k, x) =>
      s"${jsonValue(k.toString)}: ${jsonValue(x)}" }.mkString("{", ", ", "}")
    case other => String.valueOf(other)
  }

  /** `transporter about [adaptor]`: list registered adaptors (+transforms);
    * with a name, print its sample configuration. */
  private def runAbout(name: Option[String]): Unit = name match {
    case Some(n) =>
      Registry.describe.get(n) match {
        case None =>
          System.err.println(s"unknown adaptor '$n'; known: " +
            Registry.describe.keys.toSeq.sorted.mkString(", "))
          sys.exit(2)
        case Some((desc, sample)) =>
          println(s"$n - $desc")
          println()
          println(" Sample configuration:")
          println(jsonValue(sample ++ Map("adaptor" -> n)))
      }
    case None =>
      println("Adaptors:")
      Registry.describe.toSeq.sortBy(_._1).foreach { case (n, (desc, _)) =>
        val roles = Seq(
          if (Registry.sources.contains(n)) Some("source") else None,
          if (Registry.sinks.contains(n)) Some("sink") else None).flatten
        println(f"  $n%-14s [${roles.mkString("/")}] $desc")
      }
      println("Transforms:")
      println("  " + Registry.transforms.keys.toSeq.sorted.mkString(", "))
  }

  /** `transporter init [source] [sink]`: write a RUNNABLE sample config
    * wiring the two adaptors (and, for a file source, the sample input it
    * reads — so `RunPipeline pipeline.json` works immediately). Refuses to
    * overwrite an existing file (the reference prompts; this CLI is
    * non-interactive). */
  private def runInit(source: String, sink: String, out: String): Unit = {
    for (n <- Seq(source, sink))
      if (!Registry.describe.contains(n)) {
        System.err.println(s"unknown adaptor '$n'; known: " +
          Registry.describe.keys.toSeq.sorted.mkString(", "))
        sys.exit(2)
      }
    if (!Registry.sources.contains(source)) {
      System.err.println(s"'$source' is not a source adaptor")
      sys.exit(2)
    }
    if (!Registry.sinks.contains(sink)) {
      System.err.println(s"'$sink' is not a sink adaptor")
      sys.exit(2)
    }
    val outPath = java.nio.file.Paths.get(out)
    if (java.nio.file.Files.exists(outPath)) {
      System.err.println(s"$out exists, not overwriting")
      sys.exit(1)
    }
    val srcSample = Registry.describe(source)._2
    // path-writing sinks get their own output dir (never where the source
    // reads); store sinks keep their sample connection params
    val sinkSample = Registry.describe(sink)._2 ++
      (if (Seq("file", "parquet").contains(sink))
        Map[String, Any]("uri" -> "/tmp/graft-sample/out")
      else Map.empty[String, Any])
    val cfg = Map(
      "name" -> "sample",
      "source" -> (srcSample ++ Map("adaptor" -> source, "name" -> "source")),
      "sinks" -> Seq(sinkSample ++ Map("adaptor" -> sink, "name" -> "sink",
        "ns" -> ".*")))
    // make the file-source sample actually runnable: write its input
    if (source == "file") {
      val uri = java.nio.file.Paths.get(srcSample("uri").toString)
      java.nio.file.Files.createDirectories(uri.getParent)
      if (!java.nio.file.Files.exists(uri))
        java.nio.file.Files.writeString(uri,
          """{"id": 1, "name": "alpha", "value": 1.5}
            |{"id": 2, "name": "beta", "value": 2.5}
            |{"id": 3, "name": "gamma", "value": 3.5}
            |""".stripMargin)
    }
    java.nio.file.Files.writeString(outPath, jsonValue(cfg) + "\n")
    println(s"Writing $out...")
    print(ConfigLoader.parse(jsonValue(cfg)).describe) // validates, like --test
  }

  def main(args: Array[String]): Unit = args.toList match {
    case "about" :: rest if rest.size <= 1 =>
      runAbout(rest.headOption)
    case "init" :: src :: sink :: rest if rest.size <= 1 =>
      runInit(src, sink, rest.headOption.getOrElse("pipeline.json"))
    case other =>
      val (testOnly, cfgPath) = other match {
        case "--test" :: p :: Nil => (true, p)
        case p :: "--test" :: Nil => (true, p)
        case p :: Nil if p != "--test" => (false, p)
        case _ =>
          System.err.println(
            "usage: graft.tools.RunPipeline [--test] <config.json> | " +
              "about [adaptor] | init <source> <sink> [out.json]")
          sys.exit(2)
          return
      }
      val json = java.nio.file.Files.readString(
        java.nio.file.Paths.get(cfgPath))
      val spec = ConfigLoader.parse(json)
      if (testOnly) {
        print(spec.describe)
        return
      }
      val spark = Sessions.local(s"graft-${spec.name}")
      try {
        print(spec.describe)
        spec.run(spark)
        println(s"[run] pipeline '${spec.name}' completed")
      } finally spark.stop()
  }
}
