package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source-level pins for recurring plan hazards that code review caught
  * twice and grep can catch forever. These are structural rules, not
  * style: each encodes a measured failure mode.
  */
class LintSpec extends AnyFunSuite {

  private def mainSources: Seq[(java.nio.file.Path, String)] =
    sources("src/main/scala")

  private def sources(dir: String): Seq[(java.nio.file.Path, String)] = {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get(dir)
    scala.util.Using.resource(java.nio.file.Files.walk(root)) { w =>
      w.iterator().asScala
        .filter(_.toString.endsWith(".scala"))
        .map(p => (p, java.nio.file.Files.readString(p)))
        .toList
    }
  }

  /** Lines with line-comments stripped; scaladoc and import lines
    * dropped (prose and `org.apache.spark.rdd.RDD` imports are not
    * call sites).
    */
  private def codeLines(src: String): Seq[(Int, String)] =
    src.linesIterator.zipWithIndex.map { case (l, i) =>
      (i + 1, l.replaceAll("//.*$", ""))
    }.filterNot { case (_, l) =>
      val t = l.trim
      t.startsWith("*") || t.startsWith("import ")
    }.toSeq

  /** A call's argument text: from `at`, just past the open paren, up to
    * the matching close paren.
    */
  private def callArg(code: String, at: Int): String = {
    var depth = 1
    var i = at
    while (depth > 0 && i < code.length) {
      if (code(i) == '(') depth += 1 else if (code(i) == ')') depth -= 1
      i += 1
    }
    code.substring(at, i - 1)
  }

  test("no production path calls .rdd on a Dataset — a partition-count " +
      "probe via .rdd compiles a SECOND Row-deserializing physical plan " +
      "(measured on the 1000x audit); use queryExecution.toRdd") {
    // the bridge's whole job is LogicalRDD.rdd (checkpoint lifecycle);
    // dev tools may introspect however they like
    val allow = Set("GraftColumnBridge.scala")
    val rddRef = """\.rdd\b""".r
    val hits = for {
      (p, src) <- mainSources
      if !allow.contains(p.getFileName.toString)
      if !p.toString.contains("/tools/")
      (ln, line) <- codeLines(src)
      if rddRef.findFirstIn(line).isDefined
    } yield s"$p:$ln: ${line.trim}"
    assert(hits.isEmpty, "use queryExecution.toRdd instead:\n" + hits.mkString("\n"))
  }

  test("no ??? stubs anywhere in src/main") {
    val hits = for {
      (p, src) <- mainSources
      (ln, line) <- codeLines(src)
      if line.contains("???")
    } yield s"$p:$ln"
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  test("no Scala assert gates in tools mains (compiled out under " +
      "-Xdisable-assertions; audit gates must use explicit errors)") {
    val assertCall = """(?<![.\w])assert\(""".r
    val hits = for {
      (p, src) <- mainSources
      if p.toString.contains("/tools/")
      (ln, line) <- codeLines(src)
      if assertCall.findFirstIn(line).isDefined
    } yield s"$p:$ln: ${line.trim}"
    assert(hits.isEmpty,
      "tools must gate with sys.error/require, not assert:\n" + hits.mkString("\n"))
  }

  test("one session builder: SparkSession.builder appears in src/main " +
      "only in graft/core/Session.scala, so every main runs Bench's plan") {
    val hits = for {
      (p, src) <- mainSources
      (ln, line) <- codeLines(src)
      if line.contains("SparkSession.builder")
    } yield s"$p:$ln"
    assert(hits.map(_.takeWhile(_ != ':')) ==
      Seq("src/main/scala/graft/core/Session.scala"),
      "build sessions through graft.core.Session:\n" + hits.mkString("\n"))
  }

  test("one extension class: a single class named GraftExtensions, so no " +
      "session can load a copy missing a function or a strategy") {
    val defn = """\bclass\s+GraftExtensions\b""".r
    val hits = for {
      (p, src) <- sources("src")
      (ln, line) <- codeLines(src)
      if defn.findFirstIn(line).isDefined
    } yield s"$p:$ln"
    assert(hits.size == 1, hits.mkString("\n"))
  }

  test("evidence-gate completeness: bench headline + named exemptions " +
      "== the query catalog, and audit exemption sets name only " +
      "catalog queries — no query can silently skip an evidence gate") {
    val catalog = graft.queries.Queries.all.keySet
    val head = Bench.headline.toSet
    assert(Bench.headline.distinct.size == Bench.headline.size,
      "duplicate headline entries")
    val both = head & Bench.exempt.keySet
    assert(both.isEmpty, s"queries both headline and exempt: ${both.mkString(", ")}")
    val unplaced = catalog -- head -- Bench.exempt.keySet
    assert(unplaced.isEmpty,
      "catalog queries neither benched nor exempted-with-reason: " +
        unplaced.mkString(", "))
    val stale = (head ++ Bench.exempt.keySet) -- catalog
    assert(stale.isEmpty,
      s"bench lists name unknown queries: ${stale.mkString(", ")}")
    val staleAudit = (graft.queries.Queries.streamingQueries ++
      graft.queries.Queries.intendedCrossQueries) -- catalog
    assert(staleAudit.isEmpty,
      s"audit exemptions name unknown queries: ${staleAudit.mkString(", ")}")
  }

  test("one similarity-hash family: no parameter named `portable` in " +
      "src/main chooses between two hashes") {
    val param = """\bportable\s*:""".r
    val hits = for {
      (p, src) <- mainSources
      (ln, line) <- codeLines(src)
      if param.findFirstIn(line).isDefined
    } yield s"$p:$ln: ${line.trim}"
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  test("one exact-Jaccard verify choice: no parameter named " +
      "`verifyStrategy` in src/main overrides the measured decision") {
    val param = """\bverifyStrategy\s*:""".r
    val hits = for {
      (p, src) <- mainSources
      (ln, line) <- codeLines(src)
      if param.findFirstIn(line).isDefined
    } yield s"$p:$ln: ${line.trim}"
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  test("oracle coverage: every catalog query has a DuckDB oracle except " +
      "the three whose output a fitted quantizer or corpus-sized bits decide") {
    val rowsOnly = graft.queries.Queries.all.keySet -- graft.queries.Queries.oracles.keySet
    assert(rowsOnly ==
      Set("q42_ivf_ann", "q51_embedding_neardup_lsh", "q84_semantic_neardup"),
      rowsOnly.toSeq.sorted.mkString(", "))
  }

  test("every graft.* conf key literal in src/main is registered in " +
      "graft.Budgets (the conf-key registry)") {
    // conf keys end in a lowercase-initial segment; FQCN string
    // literals ("graft.functions.Genomics") end uppercase-initial
    val keyLit = """"(graft\.[a-z][a-zA-Z]*\.[a-z][a-zA-Z]*)"""".r
    val found = (for {
      (_, src) <- mainSources
      m <- keyLit.findAllMatchIn(src)
    } yield m.group(1)).toSet
    assert(found.nonEmpty, "expected at least one graft.* conf key")
    val unregistered = found -- graft.Budgets.keys
    assert(unregistered.isEmpty,
      s"conf keys missing from Budgets.keys: ${unregistered.mkString(", ")}")
    val stale = graft.Budgets.keys -- found
    assert(stale.isEmpty,
      s"Budgets.keys entries with no source site: ${stale.mkString(", ")}")
  }

  test("one staging mode: no graft.staging.* key in src/main, and the " +
      "conf-key registry holds exactly the four byte budgets") {
    val hits = for {
      (p, src) <- mainSources
      (ln, line) <- src.linesIterator.zipWithIndex.map { case (l, i) => (i + 1, l) }
      if line.contains("graft.staging.")
    } yield s"$p:$ln: ${line.trim}"
    assert(hits.isEmpty, hits.mkString("\n"))
    assert(graft.Budgets.keys.size == 4, graft.Budgets.keys.toSeq.sorted.mkString(", "))
  }

  test("one way to stage: no StagingScope.register around a " +
      "localCheckpoint — a one-shot cut is StagingScope.stage") {
    val call = "StagingScope.register("
    val hits = for {
      (p, src) <- mainSources
      code = codeLines(src).map(_._2).mkString("\n")
      at <- java.util.regex.Pattern.quote(call).r.findAllMatchIn(code).map(_.end).toSeq
      arg = callArg(code, at)
      if arg.contains("localCheckpoint(")
    } yield s"$p: register(${arg.replaceAll("\\s+", " ").trim})"
    assert(hits.isEmpty, s"${hits.size} sites:\n" + hits.mkString("\n"))
  }

  test("one way to stage, on disk: src/main writes parquet only in " +
      "sinks/Sinks and in streaming/StreamGate's gate directories") {
    // a write chain: `.write`/`.writeStream` plus its continuation
    // lines (those starting with `.`)
    val write = """\.write(?:Stream)?\b""".r
    val allow = Set("Sinks.scala", "StreamGate.scala")
    val hits = for {
      (p, src) <- mainSources
      lines = codeLines(src)
      ((ln, line), i) <- lines.zipWithIndex
      m <- write.findAllMatchIn(line)
      chain = (line.substring(m.start) +: lines.drop(i + 1).map(_._2)
        .takeWhile(_.trim.startsWith("."))).mkString(" ")
      if chain.contains("parquet")
      if !allow.contains(p.getFileName.toString)
    } yield s"$p:$ln: ${line.trim}"
    assert(hits.isEmpty, "write parquet through graft.sinks.Sinks:\n" +
      hits.mkString("\n"))
  }

  test("one stream-replay harness: readStream, writeStream, foreachBatch " +
      "and Trigger.AvailableNow appear in src/main only in " +
      "streaming/StreamGate — one reader, the file-sink and fold runners") {
    val calls = Seq("readStream", ".writeStream", "foreachBatch", "Trigger.AvailableNow")
    val hits = for {
      (p, src) <- mainSources
      (ln, line) <- codeLines(src)
      c <- calls
      if line.contains(c)
    } yield (c, p.toString, s"$p:$ln: ${line.trim}")
    val outside = hits.filterNot(_._2.endsWith("graft/streaming/StreamGate.scala"))
    assert(outside.isEmpty, "replay streams through graft.streaming.StreamGate:\n" +
      outside.map(_._3).mkString("\n"))
    assert(hits.groupBy(_._1).view.mapValues(_.size).toMap == Map(
      "readStream" -> 1, ".writeStream" -> 2, "foreachBatch" -> 1,
      "Trigger.AvailableNow" -> 2), hits.map(_._3).mkString("\n"))
  }

  test("no stray temp dirs: Files.createTempDirectory appears in src/main " +
      "only for StreamGate's scratch root (and dirs under it) and in tools/ScaleUp") {
    val hits = for {
      (p, src) <- mainSources
      (ln, line) <- codeLines(src)
      if line.contains("Files.createTempDirectory(")
    } yield (p.getFileName.toString, line.trim, s"$p:$ln: ${line.trim}")
    val stray = hits.filterNot { case (f, l, _) =>
      f == "ScaleUp.scala" ||
        (f == "StreamGate.scala" && (l.contains("createTempDirectory(scratchRoot,") ||
          l.contains("createTempDirectory(\"graft_stream_gate_\")")))
    }
    assert(stray.isEmpty, "create scratch under StreamGate's root:\n" +
      stray.map(_._3).mkString("\n"))
    assert(hits.count { case (f, l, _) =>
      f == "StreamGate.scala" && !l.contains("(scratchRoot,") } == 1,
      hits.map(_._3).mkString("\n"))
  }

  test("one fold-state holder: in streaming/, localCheckpoint( and " +
      "unpersistLocalCheckpoint appear once each, in StreamGate.FoldState") {
    val cls = """\bclass\s+(\w+)""".r
    val hits = for {
      (p, src) <- mainSources
      if p.toString.contains("/graft/streaming/")
      code = codeLines(src).map(_._2).mkString("\n")
      call <- Seq("localCheckpoint(", "unpersistLocalCheckpoint(")
      at <- java.util.regex.Pattern.quote("." + call).r.findAllMatchIn(code)
        .map(_.start).toSeq
      owner = cls.findAllMatchIn(code.substring(0, at)).toSeq.lastOption
        .fold("?")(_.group(1))
    } yield (call, s"${p.getFileName}:$owner")
    assert(hits.sorted == Seq(
      "localCheckpoint(" -> "StreamGate.scala:FoldState",
      "unpersistLocalCheckpoint(" -> "StreamGate.scala:FoldState"),
      hits.mkString("\n"))
  }

  test("one skew split: outside ops/SkewJoin, no src/main code line " +
      "builds the salt fan-out, the probe salt or the triangle-grid cell keys") {
    val parts = Seq(
      "sequence(lit(0), col(\"g\") - 1)",
      "xxhash64(col(\"id\")), col(\"g\")",
      "sequence(col(\"blk\")",
      "sequence(lit(0), col(\"blk\"))")
    val hits = for {
      (p, src) <- mainSources
      if p.getFileName.toString != "SkewJoin.scala"
      (ln, line) <- codeLines(src)
      if parts.exists(line.contains)
    } yield s"$p:$ln: ${line.trim}"
    assert(hits.isEmpty,
      s"split hot keys through graft.ops.SkewJoin (${hits.size} lines):\n" +
        hits.mkString("\n"))
  }

  test("mains census: the src/main objects that define `def main` are " +
      "exactly Bench, Verify, tools.PlanAudit and tools.ScaleUp") {
    val obj = """\bobject\s+(\w+)""".r
    val pkg = """(?m)^package\s+([\w.]+)""".r
    val entry = """\bdef\s+main\s*\(|\bextends\s+App\b""".r
    val mains = for {
      (_, src) <- mainSources
      code = codeLines(src).map(_._2).mkString("\n")
      at <- entry.findAllMatchIn(code).map(_.start).toSeq
      // the enclosing object is the last one opened before the entry
      name = obj.findAllMatchIn(code.substring(0, at)).toSeq.lastOption
        .fold("?")(_.group(1))
    } yield pkg.findFirstMatchIn(code).fold("")(_.group(1) + ".") + name
    assert(mains.sorted == Seq("graft.Bench", "graft.Verify",
      "graft.tools.PlanAudit", "graft.tools.ScaleUp"),
      mains.sorted.mkString(", "))
  }

  test("env-knob census: src/main reads exactly the seven SPARK_GRAFT_* " +
      "knobs of Session, Bench and Verify — a new knob is added on " +
      "purpose, here") {
    val read = """\b(?:sys\.env|System\.getenv)\b""".r
    val named =
      """\b(?:sys\.env(?:\.get|\.getOrElse|\.contains|\.apply)?|System\.getenv)\(\s*"(\w+)"""".r
    val lines = for {
      (p, src) <- mainSources
      (ln, line) <- codeLines(src)
      if read.findFirstIn(line).isDefined
    } yield (s"$p:$ln: ${line.trim}", line)
    val unnamed = lines.filter { case (_, l) =>
      read.findAllMatchIn(l).size != named.findAllMatchIn(l).size }
    assert(unnamed.isEmpty,
      "env reads must name a literal variable:\n" + unnamed.map(_._1).mkString("\n"))
    val names = lines.flatMap { case (_, l) =>
      named.findAllMatchIn(l).map(_.group(1)) }.toSet
    assert(names == Set(
      "SPARK_GRAFT_CPUS", "SPARK_GRAFT_SF_DIR", "SPARK_GRAFT_BENCH_PASSES",
      "SPARK_GRAFT_BENCH_ONLY", "SPARK_GRAFT_BENCH_LOAD_WAITS",
      "SPARK_GRAFT_VERIFY_ONLY", "SPARK_GRAFT_VERIFY_EXCEPT"),
      names.toSeq.sorted.mkString(", "))
  }

  test("bench one-line contract: the embedded ab block can never carry " +
      "a raw newline (the only free-form field in the JSON line — a " +
      "pretty-printed ab_headline.json must not break tail-grep parsing)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ab-lint")
    val pretty = dir.resolve("ab.json")
    java.nio.file.Files.writeString(pretty,
      "{\r\n  \"base_ref\": \"abc\",\n  \"ratio\": 0.8\n}\n")
    val s = Bench.abBlock(pretty)
    assert(!s.contains("\n") && !s.contains("\r"),
      s"abBlock leaked a raw newline: ${s.take(120)}")
    assert(s.startsWith("{") && s.endsWith("}"))
    assert(Bench.abBlock(dir.resolve("missing.json")) == "null")
    java.nio.file.Files.writeString(pretty, "not json at all\n")
    assert(Bench.abBlock(pretty) == "null")
  }
}
