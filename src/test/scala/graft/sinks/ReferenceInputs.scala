package graft.sinks

import java.nio.file.{Files, Paths}

import org.scalatest.Assertions

/** The one way the parity specs open the reference checkout's committed
  * inputs (the `.hyper` artifact and its two workbooks). A missing input
  * fails the test with a message naming the file, instead of a raw
  * `NoSuchFileException` from deep inside a read. The test still runs
  * and fails: an absent input is not a reason to skip it.
  */
private[sinks] object ReferenceInputs {

  /** `path`, once it is known to exist. */
  def file(path: String): String = {
    if (!Files.isRegularFile(Paths.get(path)))
      Assertions.fail(s"reference input missing: $path (the reference " +
        "checkout's committed file; vendor it under src/test/resources/reference/)")
    path
  }

  def bytes(path: String): Array[Byte] = Files.readAllBytes(Paths.get(file(path)))
}
