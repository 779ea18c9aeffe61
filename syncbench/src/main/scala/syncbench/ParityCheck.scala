package syncbench

import java.lang.reflect.{InvocationHandler, Method, Modifier, Proxy}

import scala.collection.mutable

import org.apache.spark.sql.types.StructType

import graft.hudi.HudiTable
import graft.sync.{SyncEngine, SyncSource, SyncTarget}

/**
 * Tracing must not change what is measured. Two checks:
 *  - forwarding: every member of `SyncSource` and `SyncTarget`, the
 *    defaulted ones too, reaches the wrapped object when called on the
 *    decorator (checked against a recording proxy, so a member added to
 *    either trait later is covered without editing this file);
 *  - equivalence: a decorated and a bare sync of the same source, full
 *    then incremental, give equal `SyncResult`s, watermarks and target
 *    file sets, for every target format.
 * Throws on any difference.
 */
object ParityCheck {

  /** Trait members the decorator cannot override: final, and defined
    * through `syncState`, which it does decorate. */
  private val FinalMembers = Set("watermarkFor", "inflightFor")

  private def dummy(c: Class[_]): AnyRef =
    if (c == classOf[String]) "1"
    else if (c == java.lang.Boolean.TYPE) java.lang.Boolean.FALSE
    else if (c == classOf[StructType]) new StructType()
    else if (classOf[scala.collection.immutable.Seq[_]].isAssignableFrom(c)) Nil
    else if (classOf[scala.collection.immutable.Set[_]].isAssignableFrom(c)) Set.empty
    else if (classOf[scala.collection.immutable.Map[_, _]].isAssignableFrom(c)) Map.empty
    else if (c == classOf[Option[_]]) None
    else if (c == classOf[Tuple2[_, _]]) (Nil, Nil)
    else if (c == java.lang.Void.TYPE) null
    else throw new IllegalArgumentException(s"no dummy value for $c")

  private def members(trait_ : Class[_]): Seq[Method] =
    trait_.getMethods.toSeq.filter(m => !Modifier.isStatic(m.getModifiers) &&
      m.getDeclaringClass == trait_ && !FinalMembers.contains(m.getName) &&
      !m.getName.contains("$default$"))

  /** Names of the members that did NOT reach the wrapped object. */
  def unforwarded[T](trait_ : Class[T], decorate: T => T): Seq[String] = {
    val seen = mutable.Set[String]()
    val handler = new InvocationHandler {
      def invoke(proxy: AnyRef, m: Method, args: Array[AnyRef]): AnyRef = {
        seen += m.getName
        if (m.getName == "format") "delta" else dummy(m.getReturnType)
      }
    }
    val recorder = Proxy.newProxyInstance(trait_.getClassLoader, Array(trait_), handler)
      .asInstanceOf[T]
    val decorated = decorate(recorder)
    members(trait_).filterNot { m =>
      seen.clear()
      m.invoke(decorated, m.getParameterTypes.map(dummy): _*)
      seen.contains(m.getName)
    }.map(_.getName)
  }

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    // a private tracer: the check's spans stay out of the run's figures
    val tracer = new Tracer(spark.sparkContext, enabled = true)
    val missing =
      unforwarded(classOf[SyncSource], (s: SyncSource) => new TracedSource(s, tracer)) ++
        unforwarded(classOf[SyncTarget], (t: SyncTarget) => new TracedTarget(t, tracer))
    require(missing.isEmpty, s"decorators do not forward: ${missing.mkString(", ")}")

    val dir = ctx.dir("parity")
    val commits = SyncWide.synthesize(ctx.seed, 6, 4)
    SyncWide.createSource(spark, s"$dir/src")
    def source(traced: Boolean): SyncSource = {
      val s = SyncEngine.hudiSource(HudiTable.forPath(spark, s"$dir/src"))
      if (traced) new TracedSource(s, tracer) else s
    }
    def sync(fmt: String, traced: Boolean, mode: SyncEngine.Mode) = {
      val path = s"$dir/${if (traced) "traced" else "bare"}-$fmt"
      val t = SyncEngine.targetFor(spark, fmt, path)
      val r = SyncEngine.sync(source(traced), if (traced) new TracedTarget(t, tracer) else t, mode)
      val fresh = SyncEngine.targetFor(spark, fmt, path)
      val st = fresh.syncState()
      (r, st.get(SyncEngine.VersionProp), st.get(SyncEngine.SourceIdProp), fresh.livePaths())
    }
    def compare(mode: SyncEngine.Mode): Unit = LayerMetrics.Formats.foreach { fmt =>
      val bare = sync(fmt, traced = false, mode)
      val traced = sync(fmt, traced = true, mode)
      require(bare == traced, s"decorated $mode sync into $fmt differs: bare $bare, traced $traced")
      require(bare._4.nonEmpty, s"$mode sync into $fmt synced no files")
    }
    SyncWide.writeCommits(s"$dir/src", commits, 0 until 4)
    compare(SyncEngine.Full)
    SyncWide.writeCommits(s"$dir/src", commits, 4 until 6)
    compare(SyncEngine.Incremental)
    Fs.deleteRecursively(new java.io.File(dir))
    println("decorator parity: every member forwarded; decorated and bare syncs agree " +
      s"(full and incremental, into ${LayerMetrics.Formats.mkString(", ")})")
  }
}
