package graft.io

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import scala.util.Using

/** Directory listing that closes what it opens. A `Files.list` stream
  * holds two file descriptors until it is closed: reading it to the end
  * does not release them, and neither does garbage collection, so every
  * unclosed call leaks them for the life of the process.
  */
object Dirs {

  /** The entries of directory `p`, in the order the filesystem lists them. */
  def list(p: Path): List[Path] =
    Using.resource(Files.list(p))(_.iterator().asScala.toList)
}
