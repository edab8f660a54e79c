package graft.jobs

/** CLI-argument → JobSpec construction (A23; reference: pkg/job/job.go —
  * ConstructDockerJob :18-142, ConstructLanguageJob :144-218). This is the
  * arg-built front-end the `run docker` / `run python` CLI verbs call,
  * mirroring the reference's parsing rules:
  *
  *  - `-i CID` defaults the mount to `/inputs` (docker_run.go:421-423);
  *    `-i CID:path` / `-v CID:path` mounts at the given absolute path
  *  - `-u URL:path` splits at the LAST ':' (URLs carry ports — job.go:44-47)
  *  - `-o name:path` needs both parts (job.go:79-92); `outputs:/outputs` is
  *    always appended (docker_run.go:425)
  *  - unsafe annotations are dropped with a warning, not fatal
  *    (job.go:94-108; safe charset pkg/job/util.go:8)
  *  - workingDir must be absolute (script_checker.go:61-69)
  *
  * One deliberate divergence: the reference rejects '/' inside a CID
  * (job.go:66-68) because IPFS CIDs are flat strings; this engine's content
  * addresses ARE filesystem paths (SourceResolver), so the cid part keeps
  * its slashes and the split happens at the LAST ':'.
  */
object JobSpecBuilder {

  private val safeAnnotation = "[A-Za-z0-9._~!:@,;+-]+".r

  final case class Built(spec: JobSpec, deal: JobDeal, warnings: Seq[String])

  private def parseInputVolume(s: String): Either[String, StorageSpec] = {
    val idx = s.lastIndexOf(':')
    val (cid, path) =
      if (idx < 0) (s, "/inputs") // bare -i CID → default mount
      else (s.substring(0, idx), s.substring(idx + 1))
    if (cid.isEmpty || path.isEmpty || !path.startsWith("/"))
      Left(s"invalid input volume: $s")
    else Right(StorageSpec(engine = "file", cid = cid, path = path))
  }

  private def parseInputUrl(s: String): Either[String, StorageSpec] = {
    val idx = s.lastIndexOf(':')
    if (idx < 0) return Left(s"invalid input URL (need url:path): $s")
    val (url, path) = (s.substring(0, idx), s.substring(idx + 1))
    // IsURLSupported analog (urldownload/storage.go scheme whitelist);
    // file:// is the sandbox-local extension resolved by SourceResolver
    if (!url.startsWith("http://") && !url.startsWith("https://") &&
        !url.startsWith("file://"))
      Left(s"unsupported URL scheme (need http/https/file): $url")
    else if (path.isEmpty || !path.startsWith("/"))
      Left(s"invalid input URL mount path: $s")
    else Right(StorageSpec(engine = "urldownload", url = url, path = path))
  }

  private def parseOutputVolume(s: String): Either[String, StorageSpec] = {
    s.split(':') match {
      case Array(name, path) if name.nonEmpty && path.nonEmpty =>
        Right(StorageSpec(engine = "file", name = name, path = path))
      case _ => Left(s"invalid output volume: $s")
    }
  }

  private def collectEither[A](xs: Seq[Either[String, A]])
      : Either[String, Seq[A]] =
    xs.foldLeft[Either[String, Vector[A]]](Right(Vector.empty)) {
      case (Left(e), _)           => Left(e)
      case (Right(acc), Right(a)) => Right(acc :+ a)
      case (Right(_), Left(e))    => Left(e)
    }

  /** ConstructDockerJob analog. */
  def constructDockerJob(
      image: String,
      entrypoint: Seq[String],
      cpu: String = "",
      memory: String = "",
      gpu: String = "",
      inputUrls: Seq[String] = Nil,
      inputVolumes: Seq[String] = Nil,
      outputVolumes: Seq[String] = Nil,
      env: Seq[String] = Nil,
      concurrency: Int = 1,
      annotations: Seq[String] = Nil,
      workingDir: String = "",
      verifier: String = "hash",
      skipSyntaxCheck: Boolean = false): Either[String, Built] = {
    val deal = JobDeal.of(concurrency) match {
      case Left(err) => return Left(err)
      case Right(d)  => d
    }
    if (image.isEmpty) return Left("image must not be empty")
    val resources =
      try Resources.parse(cpu, memory, "", gpu)
      catch { case e: Exception => return Left(s"bad resources: ${e.getMessage}") }
    for {
      _ <- ScriptChecker.validateWorkingDir(workingDir)
      _ <- if (skipSyntaxCheck) Right(())
           else ScriptChecker.checkBashSyntax(entrypoint)
      urls <- collectEither(inputUrls.map(parseInputUrl))
      vols <- collectEither(inputVolumes.map(parseInputVolume))
      outs <- collectEither(
        (outputVolumes :+ "outputs:/outputs").map(parseOutputVolume))
    } yield {
      val (safe, unsafe) = annotations.filter(_.nonEmpty)
        .partition(safeAnnotation.matches)
      val warnings = ScriptChecker.sanitizeEntrypoint(entrypoint) ++
        (if (unsafe.nonEmpty)
           Seq(s"dropped unsafe annotations: ${unsafe.mkString(", ")}")
         else Nil)
      Built(JobSpec(
        engine = "docker",
        verifier = verifier,
        docker = Some(JobSpecDocker(image = image, entrypoint = entrypoint,
          env = env, workingDir = workingDir)),
        resources = resources,
        inputs = urls ++ vols,
        outputs = outs,
        annotations = safe), deal, warnings)
    }
  }

  /** ConstructLanguageJob analog (expression-mode jobs through the
    * determinism gate; reference run_python.go rejects deterministic=false
    * outright). */
  def constructLanguageJob(
      command: String,
      language: String = "sql",
      languageVersion: String = "ansi",
      deterministic: Boolean = true,
      inputVolumes: Seq[String] = Nil,
      outputVolumes: Seq[String] = Nil,
      env: Seq[String] = Nil,
      concurrency: Int = 1,
      verifier: String = "hash"): Either[String, Built] = {
    val deal = JobDeal.of(concurrency) match {
      case Left(err) => return Left(err)
      case Right(d)  => d
    }
    if (command.isEmpty) return Left("must specify an inline command")
    for {
      vols <- collectEither(inputVolumes.map(parseInputVolume))
      outs <- collectEither(
        (outputVolumes :+ "outputs:/outputs").map(parseOutputVolume))
    } yield Built(JobSpec(
      engine = "language",
      verifier = verifier,
      language = Some(JobSpecLanguage(language = language,
        languageVersion = languageVersion, deterministic = deterministic,
        command = command)),
      inputs = vols,
      outputs = outs), deal, Nil)
  }
}
