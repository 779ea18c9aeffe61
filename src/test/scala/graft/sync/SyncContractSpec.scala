package graft.sync

import java.lang.reflect.Modifier

import org.scalatest.funsuite.AnyFunSuite

/** The declared members of the sync contract. Decorators forward every
  * member of [[SyncSource]] and [[SyncTarget]] by name (the benchmark's
  * tracing wrappers, the partition-spec override of
  * [[SyncEngine.sourceFor]]), so adding, removing or renaming one must
  * be a deliberate change that updates this list and every decorator. */
class SyncContractSpec extends AnyFunSuite {

  /** Instance members declared by `trait_`, without compiler-generated
    * ones (default-argument getters, the static initializer). */
  private def members(trait_ : Class[_]): Set[String] =
    trait_.getDeclaredMethods.toSeq
      .filter(m => !Modifier.isStatic(m.getModifiers) && !m.isSynthetic && !m.getName.contains("$"))
      .map(_.getName).toSet

  test("SyncSource declares exactly the sync-source members") {
    assert(members(classOf[SyncSource]) == Set(
      "format", "sourceId", "dataRoot", "schema", "partitionColumns", "currentVersion",
      "versionExists", "isCompleted", "versionsAfter", "schemaAtVersion", "snapshotFiles",
      "changes", "inflightVersions", "recordKeyFields", "physicalNames", "laterOf",
      "statisticsProps"))
  }

  test("SyncTarget declares exactly the sync-target members") {
    assert(members(classOf[SyncTarget]) == Set(
      "format", "targetPath", "syncState", "watermarkFor", "inflightFor", "livePaths",
      "beginBatch", "endBatch", "commit"))
  }
}
