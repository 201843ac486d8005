package graft

import graft.api.IndexArtifacts

/** Persisted model artifacts: a model file that no longer decodes reads
  * as absent, never as a throw or a wrong model.
  */
class IndexArtifactsSpec extends SparkSpec {

  test("a corrupt model file serves None, so the caller refits") {
    import spark.implicits._
    val model = Seq((0L, Seq(1d, 0d)), (1L, Seq(0d, 1d))).toDF("cid", "cv")
      .coalesce(1)
    IndexArtifacts.persistModel(spark, model, "g_model_corrupt", "fp")
    assert(IndexArtifacts.readModel(spark, "g_model_corrupt", "fp").isDefined)
    val wh = new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath
    val dir = new java.io.File(wh, "g_model_corrupt")
    // overwrite each data file's footer length and trailing PAR1 magic
    dir.listFiles().filter(_.getName.endsWith(".parquet")).foreach { f =>
      val raf = new java.io.RandomAccessFile(f, "rw")
      try { raf.seek(raf.length() - 8); raf.write(Array.fill[Byte](8)(0x7f)) }
      finally raf.close()
    }
    try assert(IndexArtifacts.readModel(spark, "g_model_corrupt", "fp").isEmpty)
    finally {
      dir.listFiles().foreach(_.delete())
      dir.delete()
    }
  }
}
