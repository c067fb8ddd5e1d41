package graft.core

/** Host-independent resolution for the artifacts the suite reads off the
  * filesystem (the FHIR fixture bundle, the lab-panel CSV and the
  * reference XGB model). Lookup order, first hit wins:
  *
  *   1. an env override (explicit configuration beats everything);
  *   2. each candidate path, relative paths resolved against the
  *      working directory — so a foreign checkout run from its repo
  *      root finds its own copies;
  *   3. the classpath (test resources land there under `sbt test`);
  *   4. the canonical absolute path on the driver host, returned even
  *      if absent so the caller's error names the expected location.
  */
object Paths {

  def resolve(envVar: String, candidates: Seq[String],
      classpath: Option[String], canonical: String): String =
    sys.env.get(envVar)
      .orElse(candidates.find(p => new java.io.File(p).exists())
        .map(p => new java.io.File(p).getAbsolutePath))
      // toURI decodes URL escaping — getPath would return '%20' for a
      // checkout under a directory with spaces and the file lookup fails
      .orElse(classpath.flatMap(r => Option(getClass.getResource(r)))
        .filter(_.getProtocol == "file")
        .map(u => java.nio.file.Paths.get(u.toURI).toString))
      .getOrElse(canonical)
}
