package graft

import java.nio.file.{Files, LinkOption}
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.v2.MemCatalog
import graft.streaming.BoundedStream

class BoundedStreamSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("deleteRecursively removes symlinks, never their targets") {
    val outside = Files.createTempFile("graft-test-target-", ".parquet")
    val dir = Files.createTempDirectory("graft-test-links-")
    val dangling = Files.createTempDirectory("graft-test-dangling-").resolve("link")
    try {
      Files.writeString(outside, "fixture")
      Files.createSymbolicLink(dir.resolve("copy1.parquet"), outside)
      MemCatalog.deleteRecursively(dir)
      assert(!Files.exists(dir, LinkOption.NOFOLLOW_LINKS))
      assert(Files.readString(outside) == "fixture")
      // a link whose target is gone is still deleted
      Files.createSymbolicLink(dangling, dangling.resolveSibling("gone"))
      MemCatalog.deleteRecursively(dangling)
      assert(!Files.exists(dangling, LinkOption.NOFOLLOW_LINKS))
    } finally {
      Files.deleteIfExists(outside)
      MemCatalog.deleteRecursively(dir)
      MemCatalog.deleteRecursively(dangling.getParent)
    }
  }

  test("a closed run refuses to start a query") {
    var closed: BoundedStream = null
    BoundedStream.run(spark, "closed") { s => closed = s }
    intercept[IllegalStateException] {
      closed.start(closed.session.readStream.format("rate").load().writeStream.format("noop"))
    }
  }
}
