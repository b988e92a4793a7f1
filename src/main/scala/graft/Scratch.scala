package graft

import java.nio.file.{FileSystemException, Files, Path, Paths, StandardCopyOption}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.SparkSession

/** One run's scratch space: the dirs a gate stages files in, the
  * barrier dirs a plan re-reads lazily, and the plan memos that point at
  * them. `Scratch.scoped(spark) { … }` opens a scope with a unique root;
  * closing it deletes everything it handed out and drops its memos,
  * after success and after an exception. Nothing is shared between
  * scopes, so two runs in one JVM (or two JVMs) never delete each
  * other's inputs.
  *
  * The open scope is named by a Spark local property, so it is the
  * current one on the calling thread and on every thread Spark starts
  * from it — the `foreachBatch` stream thread included. Code outside any
  * scope uses one JVM scope, deleted at exit.
  */
object Scratch {

  private val Key = "graft.scratch.scope"
  private val live = new ConcurrentHashMap[String, Scope]()

  final class Scope private[Scratch] () {
    /** Parent of every [[dir]], made when the scope opens. Its short
      * random name is claimed by an atomic create, so it is unique among
      * the scopes of every JVM sharing this tmp dir, and a scan of a
      * scratch path still shows the gate's dir name within Spark's
      * 100-character plan metadata.
      */
    val root: Path = {
      val tmp = Paths.get(sys.props.getOrElse("java.io.tmpdir", "/tmp"))
      Iterator.continually(tmp.resolve(
          f"graft-scope-${scala.util.Random.nextInt()}%08x"))
        .find(p => try { Files.createDirectory(p); true }
          catch { case _: java.nio.file.FileAlreadyExistsException => false })
        .get
    }
    private[Scratch] val id: String = root.getFileName.toString
    private val seq = new AtomicLong()
    // each barrier dir with the FileSystem it was made through, so
    // cleanup works for any Hadoop scheme
    private val barriers = new ConcurrentHashMap[HPath, FileSystem]()
    private val memos = new ConcurrentHashMap[Any, AnyRef]()

    /** A fresh local path under [[root]], absent until written. */
    def dir(name: String): String =
      root.resolve(s"$name-${seq.incrementAndGet()}").toString

    /** A fresh, empty barrier dir `graft-<tag>-<uuid>`. Its root is
      * `graft.barrier.dir` (Spark runtime conf), resolved per call: any
      * Hadoop URI — `file://`, `hdfs://`, `s3a://` — and every barrier
      * operation goes through that scheme's FileSystem. The default is
      * the local tmp dir.
      */
    def barrier(spark: SparkSession, tag: String): HPath = {
      val base = new HPath(spark.conf.getOption("graft.barrier.dir")
        .getOrElse(new java.io.File(
          sys.props.getOrElse("java.io.tmpdir", "/tmp")).toURI.toString))
      val fs = base.getFileSystem(spark.sessionState.newHadoopConf())
      val dir = new HPath(base, s"graft-$tag-${java.util.UUID.randomUUID()}")
      fs.mkdirs(dir)
      barriers.put(dir, fs)
      dir
    }

    /** The barrier dirs this scope holds now. */
    def barrierDirs: Seq[HPath] = {
      import scala.jdk.CollectionConverters._
      barriers.keySet.asScala.toSeq
    }

    /** `compute`'s value, made once per key in this scope: a plan that
      * re-reads this scope's barriers dies with them.
      */
    def memo[T <: AnyRef](key: Any)(compute: => T): T =
      memos.computeIfAbsent(key, _ => compute).asInstanceOf[T]

    private[Scratch] def release(dir: HPath): Unit =
      Option(barriers.remove(dir)).foreach { fs =>
        try { fs.delete(dir, true); () } catch { case _: Throwable => () }
      }

    private[Scratch] def close(): Unit = {
      memos.clear()
      barrierDirs.foreach(release)
      rmTree(root.toFile)
    }
  }

  // made on first use only, so an object that merely imports rmTree or
  // publish starts no hook
  private lazy val jvmScope: Scope = {
    val s = new Scope()
    live.put(s.id, s)
    // ahead of Hadoop's own FileSystem close at exit
    org.apache.hadoop.util.ShutdownHookManager.get().addShutdownHook(
      () => s.close(), FileSystem.SHUTDOWN_HOOK_PRIORITY + 1)
    s
  }

  /** Run `body` in a new scope, then delete all it handed out, also
    * when `body` throws. The previous scope is current again after.
    */
  def scoped[T](spark: SparkSession)(body: => T): T = {
    val scope = new Scope()
    val sc = spark.sparkContext
    val outer = sc.getLocalProperty(Key)
    live.put(scope.id, scope)
    sc.setLocalProperty(Key, scope.id)
    try body
    finally {
      sc.setLocalProperty(Key, outer)
      live.remove(scope.id)
      scope.close()
    }
  }

  /** The scope open on this thread, else the JVM scope. */
  def current(spark: SparkSession): Scope =
    Option(spark.sparkContext.getLocalProperty(Key)).flatMap(id =>
      Option(live.get(id))).getOrElse(jvmScope)

  /** A fresh path under the current scope, absent until written. */
  def dir(spark: SparkSession, name: String): String =
    current(spark).dir(name)

  /** Fresh paths for `names`: the first — a staged source dir — is
    * created empty; the others stay absent until something writes them,
    * so a batch body may test a side dir's `exists()` to tell the first
    * batch from later ones.
    */
  def dirs(spark: SparkSession, names: String*): Seq[String] = {
    val ds = names.map(dir(spark, _))
    ds.headOption.foreach(d => Files.createDirectories(Paths.get(d)))
    ds
  }

  /** Delete barrier `dir` now, before its scope closes: iterative
    * algorithms cap scratch this way instead of letting every round's
    * barrier pile up.
    */
  def release(dir: HPath): Unit = live.values.forEach(_.release(dir))

  def rmTree(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rmTree)); f.delete(); ()
  }

  /** Write into a staging dir beside `target`, then rename it onto
    * `target` in one atomic move. An incomplete `target` is removed
    * first. If another writer publishes `target` first, the rename
    * fails and its copy is kept. The staging dir is always removed.
    */
  def publish(target: Path, published: Path => Boolean)(
      write: Path => Unit): Unit = {
    val staging = target.resolveSibling(
      s"_${target.getFileName}-${java.util.UUID.randomUUID()}")
    try {
      write(staging)
      if (!published(target)) rmTree(target.toFile)
      Files.move(staging, target, StandardCopyOption.ATOMIC_MOVE)
    } catch {
      case _: FileSystemException if published(target) =>
    } finally rmTree(staging.toFile)
  }
}
