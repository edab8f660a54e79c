package graft.jobs

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import scala.jdk.CollectionConverters._

/** `apply -f job.json` front-end (SURVEY.md §3.3; reference:
  * cmd/bacalhau/apply.go:60-176 — file → spec struct → the same submit
  * path). Accepts the reference's published spec-file field names
  * (testdata/job.json: `engine_name`, `verifier_name`, `job_spec_docker`,
  * `job_spec_language`, `resources`, `inputs`/`outputs` with
  * `engine_name/name/cid/path`, `annotations`) and maps them onto the
  * [[JobSpec]] ADT. JSON only — YAML specs convert losslessly to JSON and
  * the container ships no YAML parser; jackson is already on Spark's
  * classpath.
  */
object JobSpecLoader {

  private val mapper = new ObjectMapper()

  def fromJson(json: String): Either[String, (JobSpec, JobDeal)] =
    try {
      val root = mapper.readTree(json)
      if (root == null || !root.isObject) Left("not a JSON object")
      else parse(root).flatMap { case (spec, deal) =>
        spec.validate().map(v => (v, deal))
      }
    } catch {
      case e: Exception => Left(s"invalid JSON: ${e.getMessage}")
    }

  def fromFile(path: String): Either[String, (JobSpec, JobDeal)] =
    try {
      val text = new String(
        java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)),
        java.nio.charset.StandardCharsets.UTF_8)
      val lower = path.toLowerCase
      if (lower.endsWith(".yaml") || lower.endsWith(".yml")) fromYaml(text)
      else fromJson(text)
    } catch { case e: Exception => Left(s"cannot read $path: ${e.getMessage}") }

  /** Subset-YAML front-end for the reference's spec files
    * (testdata/job.yaml shape): nested maps by 2-space indent, block lists
    * (`- item` scalars and `- key: value` map items), quoted/raw scalars,
    * null/booleans/ints. No anchors, no multi-line scalars, no flow
    * collections beyond `[]` — everything the published job files use. */
  def fromYaml(text: String): Either[String, (JobSpec, JobDeal)] =
    try {
      val lines = text.linesIterator
        .map(l => l.takeWhile(_ != '#'))
        .filter(_.trim.nonEmpty)
        .toVector
      if (lines.isEmpty) Left("empty YAML")
      else fromJsonNode(parseYamlBlock(lines))
    } catch { case e: Exception => Left(s"invalid YAML: ${e.getMessage}") }

  private def fromJsonNode(root: JsonNode): Either[String, (JobSpec, JobDeal)] =
    if (!root.isObject) Left("not a YAML mapping")
    else parse(root).flatMap { case (spec, deal) =>
      spec.validate().map(v => (v, deal))
    }

  private def indentOf(l: String): Int = l.takeWhile(_ == ' ').length

  private def yamlScalar(raw: String): JsonNode = {
    val t = raw.trim
    if (t.isEmpty || t == "null" || t == "~") mapper.nullNode()
    else if ((t.startsWith("'") && t.endsWith("'") && t.length >= 2))
      mapper.getNodeFactory.textNode(t.substring(1, t.length - 1))
    else if (t.startsWith("\"") && t.endsWith("\"") && t.length >= 2)
      mapper.getNodeFactory.textNode(t.substring(1, t.length - 1))
    else if (t == "true" || t == "false")
      mapper.getNodeFactory.booleanNode(t.toBoolean)
    else if (t == "[]") mapper.createArrayNode()
    else if (t == "{}") mapper.createObjectNode()
    else if (t.matches("-?\\d+"))
      mapper.getNodeFactory.numberNode(t.toLong)
    else mapper.getNodeFactory.textNode(t)
  }

  /** Parse a block of lines sharing the indent of `lines.head`. */
  private def parseYamlBlock(lines: Vector[String]): JsonNode = {
    val base = indentOf(lines.head)
    if (lines.head.trim.startsWith("- ") || lines.head.trim == "-") {
      // sequence: group by items starting at this indent with "-"
      val arr = mapper.createArrayNode()
      var i = 0
      while (i < lines.length) {
        require(indentOf(lines(i)) == base && lines(i).trim.startsWith("-"),
          s"bad sequence item: '${lines(i)}'")
        // the item head with "-" replaced by a space keeps child alignment
        val head = lines(i).replaceFirst("-", " ")
        var j = i + 1
        while (j < lines.length && indentOf(lines(j)) > base) j += 1
        val itemLines =
          (if (head.trim.isEmpty) Vector.empty[String] else Vector(head)) ++
            lines.slice(i + 1, j)
        if (itemLines.isEmpty) arr.add(mapper.nullNode())
        else if (itemLines.length == 1 && !itemLines.head.contains(": ") &&
                 !itemLines.head.trim.endsWith(":"))
          arr.add(yamlScalar(itemLines.head))
        else arr.add(parseYamlBlock(itemLines))
        i = j
      }
      arr
    } else {
      // mapping
      val obj = mapper.createObjectNode()
      var i = 0
      while (i < lines.length) {
        val l = lines(i)
        require(indentOf(l) == base, s"bad mapping indent: '$l'")
        val t = l.trim
        val ci = t.indexOf(':')
        require(ci > 0, s"expected 'key: value': '$l'")
        val key = t.substring(0, ci).trim
        val rest = t.substring(ci + 1)
        var j = i + 1
        while (j < lines.length && indentOf(lines(j)) > base) j += 1
        if (rest.trim.nonEmpty) obj.set(key, yamlScalar(rest))
        else if (j > i + 1) obj.set(key, parseYamlBlock(lines.slice(i + 1, j)))
        else obj.set(key, mapper.nullNode())
        i = j
      }
      obj
    }
  }

  private def str(n: JsonNode, field: String, default: String = ""): String = {
    val v = n.get(field)
    if (v == null || v.isNull) default else v.asText()
  }

  private def strSeq(n: JsonNode, field: String): Seq[String] = {
    val v = n.get(field)
    if (v == null || !v.isArray) Nil
    else v.elements().asScala.map(_.asText()).toSeq
  }

  private def volumes(n: JsonNode, field: String): Seq[StorageSpec] = {
    val v = n.get(field)
    if (v == null || !v.isArray) Nil
    else v.elements().asScala.map { e =>
      // reference storage engines (ipfs/urldownload) resolve through the
      // shared-filesystem source in this engine (SourceResolver)
      val eng = str(e, "engine_name") match {
        case "urldownload" => "urldownload"
        case _             => "file"
      }
      StorageSpec(engine = eng, name = str(e, "name"), cid = str(e, "cid"),
        url = str(e, "url"), path = str(e, "path"))
    }.toSeq
  }

  private def parse(root: JsonNode): Either[String, (JobSpec, JobDeal)] = {
    val engine = str(root, "engine_name") match {
      case "docker"   => "docker"
      case "language" => "language"
      case "noop"     => "noop"
      case other      => return Left(s"unknown engine_name: '$other'")
    }
    val verifier = str(root, "verifier_name") match {
      case "ipfs"       => "hash" // CID-publish analog
      case "noop" | ""  => "noop"
      case other        => return Left(s"unknown verifier_name: '$other'")
    }
    val docker = Option(root.get("job_spec_docker")).filter(_.isObject).map { d =>
      JobSpecDocker(
        image = str(d, "image"),
        entrypoint = strSeq(d, "entrypoint"),
        env = strSeq(d, "env"),
        workingDir = str(d, "working_dir"))
    }
    val language = Option(root.get("job_spec_language")).filter(_.isObject).map { l =>
      JobSpecLanguage(
        language = str(l, "language", "sql"),
        languageVersion = str(l, "language_version", "ansi"),
        deterministic = {
          val v = l.get("deterministic"); v == null || v.asBoolean(true)
        },
        command = str(l, "command"))
    }
    val resources = Option(root.get("resources")).filter(_.isObject)
      .map { r =>
        try Right(Resources.parse(str(r, "cpu"), str(r, "memory"),
          str(r, "disk"), str(r, "gpu")))
        catch { case e: IllegalArgumentException => Left(e.getMessage) }
      }.getOrElse(Right(ResourceUsage())) match {
        case Left(err) => return Left(s"bad resources: $err")
        case Right(r)  => r
      }
    val deal = Option(root.get("deal")).filter(_.isObject)
      .flatMap(d => Option(d.get("concurrency")))
      .map { c =>
        // an integer past the long range must not wrap into the range
        JobDeal.of(
          if (!c.isIntegralNumber || c.canConvertToLong) c.asLong(1)
          else if (c.bigIntegerValue.signum < 0) Long.MinValue
          else Long.MaxValue)
      }.getOrElse(Right(JobDeal())) match {
        case Left(err) => return Left(err)
        case Right(d)  => d
      }
    Right((JobSpec(
      engine = engine,
      verifier = verifier,
      docker = docker,
      language = language,
      resources = resources,
      inputs = volumes(root, "inputs"),
      outputs = volumes(root, "outputs"),
      annotations = strSeq(root, "annotations")), deal))
  }
}
