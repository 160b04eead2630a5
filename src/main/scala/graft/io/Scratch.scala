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

  /** Dirs made and not yet deleted; the JVM deletes them when it exits. */
  private val undeleted = java.util.concurrent.ConcurrentHashMap.newKeySet[Path]()
  sys.addShutdownHook(undeleted.forEach(delete(_)))

  /** A fresh scratch directory `<root>/<prefix>…`. Its lifetime is the
    * rule on [[graft.ext.CacheScope]]. */
  def dir(prefix: String): Path = {
    val d = Files.createTempDirectory(Files.createDirectories(root), prefix)
    undeleted.add(d)
    graft.ext.CacheScope.ownDir(d)
    d
  }

  private[graft] def delete(d: Path): Unit = {
    org.apache.commons.io.FileUtils.deleteQuietly(d.toFile)
    undeleted.remove(d)
  }
}
