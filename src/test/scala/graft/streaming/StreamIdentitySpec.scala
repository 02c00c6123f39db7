package graft.streaming

import java.nio.file.{Files, Paths}

import graft.SparkSpec

class StreamIdentitySpec extends SparkSpec {

  test("a checkpoint path with a backslash or a quote reads back unchanged and guards its own stream") {
    Seq("a\\b", "a\"b").foreach { name =>
      val ckpt = Paths.get(tmpDir("sid-ckpt"), name)
      Files.createDirectories(ckpt)
      Files.writeString(ckpt.resolve("metadata"), """{"id":"q-1"}""")
      val store = tmpDir("sid-store")
      StreamIdentity.write(spark, store, ckpt.toString, "q-1")
      assert(StreamIdentity.read(spark, store).contains((ckpt.toString, "q-1")))
      assert(StreamIdentity.checkpointQueryId(spark, ckpt.toString).contains("q-1"))
      StreamIdentity.guard(spark, store, ckpt.toString) // no refusal on restart
    }
  }
}
