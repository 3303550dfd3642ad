package graft

/** Scratch-directory selection for Spark's node-local intermediates
  * (`spark.local.dir`: shuffle files, block-manager disk store, spills).
  *
  * Guide §1.3/§6: local-disk latency for shuffle files can be the tighter
  * limit than CPU — and on this sandbox it measurably is, in an unusual
  * way: SERIAL file creation on the root ext4 is fine (~26 µs) but
  * CONCURRENT creation collapses (~3 ms/file with 32 writers in one
  * directory, ~250 µs across directories — kernel-level serialization of
  * metadata ops on the virtio disk). Every shuffle map task creates a
  * data + index file (plus temp/rename), so a 32-task stage pays hundreds
  * of ms of pure `open(2)` wait; thread dumps of a blocked stage showed
  * 21/32 executor threads inside `FileOutputStream.open0` and 10 in
  * `File.exists`. On tmpfs those ops are sub-µs: the full 238-query bench
  * dropped 218.9 → 184.8 s (min-of-3, same tree) from this one setting.
  *
  * Production posture: `spark.local.dir` is ALWAYS deployment-specific —
  * real clusters point it at striped NVMe (or RAM-backed volumes for
  * small-shuffle tiers); Spark's /tmp default is a placeholder, not a
  * design choice. A 100 TB shuffle obviously cannot live in RAM — so this
  * stays parameterized: `SPARK_GRAFT_LOCAL_DIR` overrides, and the
  * default only picks the RAM-backed path when it exists and is writable
  * (it is on the bench sandbox; on a real node the operator sets the
  * env/conf to the local disk array).
  */
object LocalScratch {

  /** Preferred node-local scratch dir: env override, else a per-user dir
    * under /dev/shm when usable, else the JVM temp dir (Spark's own
    * default behavior).
    */
  def dir(): String =
    sys.env.get("SPARK_GRAFT_LOCAL_DIR").getOrElse(
      under(new java.io.File("/dev/shm"), System.getProperty("user.name", "")))

  /** `graft_spark_local_<user>` under `base`, created if missing, when it is
    * a real (non-symlink) directory that `user` owns and this process can
    * write; else the JVM temp dir. Keying by user keeps the users of a
    * shared box out of each other's directory, and checking here fails at
    * selection time instead of late inside Spark's shuffle-dir creation.
    */
  private[graft] def under(base: java.io.File, user: String): String = {
    val d = new java.io.File(base,
      "graft_spark_local_" + user.replaceAll("[^A-Za-z0-9._-]", "_"))
    val p = d.toPath
    val usable = base.isDirectory && !java.nio.file.Files.isSymbolicLink(p) &&
      (d.isDirectory || d.mkdirs()) && d.canWrite &&
      scala.util.Try(java.nio.file.Files.getOwner(p).getName == user).getOrElse(false)
    if (usable) d.getAbsolutePath
    else System.getProperty("java.io.tmpdir", "/tmp")
  }
}
