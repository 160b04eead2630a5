package graft.io

import java.nio.file.{Files, Path, Paths}

/** Scratch-directory root for the round-trip operators (snapshot
  * tables, sheet/CSV/ORC exports): the gate queries that WRITE an
  * intermediate artifact and read it back.
  *
  * The sandbox's `/tmp` sits on a shared virtual disk whose throttling
  * stalls write-heavy work for tens of seconds (the same measured
  * pathology that moved `spark.local.dir` — see LocalSession), so the
  * round-trip family inherited multi-second swings from the host, not
  * from the engine. Scratch artifacts go to the RAM-backed tmpfs when
  * it is present AND roomy ([[graft.LocalSession.fastDir]]; these
  * artifacts are KB-to-MB sized).
  * `SPARK_GRAFT_SCRATCH` overrides explicitly — the knob a cluster
  * deployment points at its fast scratch filesystem. Measured at
  * sf0.1/32c: the five heaviest round-trip queries total 5.8 s on
  * /tmp vs 4.9 s on tmpfs on a QUIET host; under host throttling the
  * /tmp numbers historically swung far worse. */
object Scratch {
  private[graft] lazy val root: Path = Paths.get(
    sys.env.getOrElse("SPARK_GRAFT_SCRATCH", graft.LocalSession.fastDir("graft-scratch")))

  /** A fresh scratch directory for the query that owns `prefix`, under
    * `<root>/<prefix>/`. Creating it deletes the query's earlier
    * directories, so a query built again and again leaves one directory
    * behind, not one per build. This assumes one user per prefix at a
    * time: the frame a round-trip query returns reads its directory
    * lazily, so building the same query again (another thread, or a
    * caller still holding the first frame) deletes the files the first
    * frame reads. */
  def dir(prefix: String): Path = {
    val parent = Files.createDirectories(root.resolve(prefix))
    org.apache.commons.io.FileUtils.cleanDirectory(parent.toFile)
    Files.createTempDirectory(parent, prefix)
  }
}
