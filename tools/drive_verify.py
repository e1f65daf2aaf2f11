"""Verify drive: ingest, search, dedup, entry contract, through the public API.

The /verify skill's end-to-end exercise — run `python tools/drive_verify.py`
(takes ~2 min; Spark startup ~15 s).  Exit 0 = all flows green."""
import sys, tempfile, traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from pyspark.sql import functions as F
from mcpvectordb_spark.session import get_spark

SF = "/root/testdata/sf0.001"


def main() -> int:
    spark = get_spark("verify-drive")
    ok = fail = 0

    def check(name, fn):
        nonlocal ok, fail
        try:
            fn()
            print(f"[OK] {name}")
            ok += 1
        except Exception as e:
            print(f"[FAIL] {name}: {e}")
            traceback.print_exc()
            fail += 1

    # ---- 1. ingest flow ----
    from mcpvectordb_spark.store import ChunkStore, build_filter
    from mcpvectordb_spark.ingest import ingest_batch, rollup_results

    tmp = tempfile.mkdtemp(prefix="drive_store_")
    from mcpvectordb_spark.config import TEST as TESTCFG
    store = ChunkStore(spark, tmp, TESTCFG)
    docs = (spark.read.parquet(f"{SF}/documents.parquet")
            .orderBy("doc_id").limit(20)
            .select(F.col("source"), F.lit("TEST").alias("library"),
                    F.col("text").alias("content"), F.to_json(F.struct("lang")).alias("metadata")))

    def ingest_fresh():
        res = ingest_batch(docs, store, TESTCFG, created_at="2026-08-13T00:00:00Z")
        statuses = {r["status"] for r in res.collect()}
        assert statuses == {"indexed"}, statuses
    check("ingest fresh batch -> all indexed", ingest_fresh)

    def ingest_again():
        res = ingest_batch(docs, store, TESTCFG, created_at="2026-08-13T01:00:00Z")
        statuses = {r["status"] for r in res.collect()}
        assert statuses == {"skipped"}, statuses
    check("re-ingest same batch -> all skipped", ingest_again)

    def ingest_modified():
        mod = docs.withColumn("content", F.concat(F.col("content"), F.lit(" EDIT")))
        res = ingest_batch(mod, store, TESTCFG, created_at="2026-08-13T02:00:00Z")
        statuses = {r["status"] for r in res.collect()}
        assert statuses == {"replaced"}, statuses
    check("modified content -> replaced", ingest_modified)

    def ingest_empty_row():
        bad = spark.createDataFrame(
            [("s1", "TEST", "", "{}"), ("s2", "TEST", "real content here", "{}")],
            "source string, library string, content string, metadata string")
        res = ingest_batch(bad, store, TESTCFG, created_at="2026-08-13T03:00:00Z")
        rows = {r["source"]: r["status"] for r in res.collect()}
        assert rows["s1"] == "failed" and rows["s2"] == "indexed", rows
    check("empty content -> failed row, batch continues", ingest_empty_row)

    # ---- 2. search flow ----
    from mcpvectordb_spark.operators.knn import knn_topk
    from mcpvectordb_spark.operators.bm25 import bm25_topk
    from mcpvectordb_spark.embedder import HashEmbedder
    from mcpvectordb_spark.store import InvalidFilterError

    chunks = store.read()
    emb = HashEmbedder(dim=64)
    qv = emb.embed_query("real content")

    def knn_works():
        out = knn_topk(chunks, qv, k=5)
        assert out.count() == 5
    check("knn_topk on ingested store", knn_works)

    def knn_empty_library():
        out = knn_topk(chunks.where(build_filter(library="NOPE")), qv, k=5)
        assert out.count() == 0
    check("empty library -> 0 rows", knn_empty_library)

    def bm25_absent_term():
        out = bm25_topk(chunks, "zzqxvnotaterm", 5, "id", "content")
        assert out.count() == 0
    check("bm25 absent term -> 0 rows", bm25_absent_term)

    def invalid_filter():
        try:
            build_filter(filters={"bogus_key": "x"})
        except InvalidFilterError:
            return
        raise AssertionError("no InvalidFilterError")
    check("invalid filter key raises", invalid_filter)

    # ---- 2b. store versions ----
    def snapshot_delete_restore():
        n = store.count()
        v = store.snapshot(tag="drive")
        victim = store.read().select("doc_id").first()["doc_id"]
        gone = store.delete_document(victim)
        assert gone > 0 and store.count() == n - gone, (n, gone)
        assert store.read_version(v).count() == n
        store.restore(v)
        assert store.count() == n and store.get_document(victim) is not None
    check("snapshot -> delete -> read_version -> restore", snapshot_delete_restore)

    def pinned_read_outlives_delete():
        with store.pinned():
            before = store.read()
            n = store.count()
            victim = before.select("doc_id").first()["doc_id"]
            assert store.delete_document(victim) > 0
            assert before.count() == n, "a read resolved before the delete lost rows"
        assert store.count() < n
    check("read resolved before a delete still collects", pinned_read_outlives_delete)

    def cold_store_lists_the_writers_documents():
        # the document index lives in process memory (store._INDEXES): with it
        # cleared, a new ChunkStore sees the store as a fresh process would and
        # rebuilds the index from the files the writer committed
        from mcpvectordb_spark import store as store_mod
        want = (store.list_documents(limit=1000), store.list_libraries(), store.count())
        store_mod._INDEXES.clear()
        cold = ChunkStore(spark, tmp, TESTCFG)
        got = (cold.list_documents(limit=1000), cold.list_libraries(), cold.count())
        assert want[2] > 0 and got == want, (got, want)
        doc = want[0][0]
        assert cold.get_document(doc["doc_id"])["chunk_count"] == doc["chunk_count"]
    check("cold store lists the writer's documents", cold_store_lists_the_writers_documents)

    def note_ingest_job_budget():
        # a one-note batch is a local relation: the dedup gate runs no job, and
        # chunk -> embed -> write is the ingest's only one
        from mcpvectordb_spark.api import VectorDB
        from mcpvectordb_spark.obs import spark_work
        db = VectorDB(spark, tempfile.mkdtemp(prefix="drive_notes_"), TESTCFG)
        note = {"content": "# Budget\n\n" + "a note about job budgets " * 60, "source": "budget.md", "library": "notes"}
        with spark_work(spark, "new note") as new:
            assert db.ingest_content(**note)["status"] == "indexed"
        with spark_work(spark, "re-send") as again:
            assert db.ingest_content(**note)["status"] == "skipped"
        assert (new.jobs, again.jobs) == (1, 0), (new.jobs, again.jobs)
    check("a new note is 1 Spark job, its re-send 0", note_ingest_job_budget)

    # ---- 3. dedup flow (planted) ----
    from mcpvectordb_spark.operators.dedup import minhash_lsh_pairs

    def planted_dedup():
        base = (spark.read.parquet(f"{SF}/documents.parquet")
                .orderBy("doc_id").limit(50).select("doc_id", "text"))
        mut = base.withColumn("doc_id", F.col("doc_id") + 1000000) \
                  .withColumn("text", F.concat(F.col("text"), F.lit(" tail tweak")))
        pairs = minhash_lsh_pairs(base.unionByName(mut), "doc_id", "text", threshold=0.6)
        n = pairs.count()
        assert n >= 40, f"planted near-dups under-detected: {n}"
    check("planted near-dup pairs detected by LSH", planted_dedup)

    # ---- 4/5. driver contract ----
    import importlib.util
    spec = importlib.util.spec_from_file_location("entrymod", str(ROOT / "__spark_entry__.py"))
    em = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(em)

    def entry_runs():
        df = em.entry(spark)
        rows = df.collect()
        assert len(rows) >= 0 and len(df.schema) > 0
    check("entry(spark) returns stable DataFrame", entry_runs)

    def registries_align():
        qs, os_ = em.queries(), em.oracle_sql()
        missing = set(os_) - set(qs)
        assert not missing, missing
        assert len(qs) >= 70, len(qs)
    check("queries()/oracle_sql() registries align", registries_align)

    print(f"\n[SUMMARY] {ok} ok, {fail} failed")
    return 1 if fail else 0


if __name__ == "__main__":
    sys.exit(main())
