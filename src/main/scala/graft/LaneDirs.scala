package graft

/** Scratch directories for registry and bench lanes (catalog tables,
  * saves, stream checkpoints): every lane directory lives under ONE
  * temp root private to this JVM, created on first use and deleted at
  * exit, so two `graft.Verify`/`graft.Bench` JVMs — even from
  * different checkouts — never share (and corrupt) a lane's table. */
object LaneDirs {
  private lazy val root: java.nio.file.Path = {
    val r = java.nio.file.Files.createTempDirectory("graft_lanes_")
    sys.addShutdownHook {
      new scala.reflect.io.Directory(r.toFile).deleteRecursively()
      ()
    }
    r
  }

  /** The lane directory `name` under this JVM's root (not created). */
  def path(name: String): String = root.resolve(name).toString
}
