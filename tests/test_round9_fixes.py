"""Round-9 ADVICE regression pins (r8 ADVICE #1/#2): NULL-text parity in
tokenizer_fertility / dataset_datasheet, and the entropy/psi readouts
moved from probabilistically-stable 9dp float sums to the exact-integer
BIGINT-sum idiom (the r8 silhouette/inertia discipline).

Each parity test plants a corpus the driver harness CANNOT produce
(testdata has no NULL texts) and runs the committed oracle SQL through
DuckDB on the very same parquet, so the asymmetry the ADVICE found —
Spark NULL vs oracle 0 — stays dead."""

import math
import os
from pathlib import Path

import duckdb


def _duck_rows(sql: str, tmp_path: Path):
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{tmp_path}/documents.parquet/*.parquet')"
    )
    return con.execute(sql).fetchall()


def _plant(spark, tmp_path, rows):
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(str(tmp_path / "documents.parquet"))


def test_fertility_null_text_parity(spark, tmp_path):
    """A language whose docs are ALL NULL text must read ws=bpe=bytes=0
    and fertility=0 on BOTH engines (r8 ADVICE #1: the Spark side used
    to emit NULLs where the oracle coalesced to 0)."""
    from mcpvectordb_spark.catalog._round8 import (
        SQL_TOKENIZER_FERTILITY,
        q_tokenizer_fertility,
    )

    _plant(
        spark,
        tmp_path,
        [
            (0, None, "zz", "s", 0),
            (1, None, "zz", "s", 0),
            (2, "extraordinary cat", "en", "s", 17),
        ],
    )
    got = [tuple(r) for r in q_tokenizer_fertility(spark, str(tmp_path)).collect()]
    want = [tuple(r) for r in _duck_rows(SQL_TOKENIZER_FERTILITY, tmp_path)]
    assert got == want
    zz = dict((r[0], r) for r in got)["zz"]
    assert zz[1:] == (2, 0, 0, 0.0, 0.0), "all-NULL lang: exact zeros, not NULLs"


def test_datasheet_null_text_parity(spark, tmp_path):
    """A source whose docs are ALL NULL text: ws_tokens must be 0 (not
    NULL) on the Spark side, matching the oracle; the NULL digests still
    count as exact duplicates of each other (md5(coalesce(text,''))),
    identically on both engines."""
    from mcpvectordb_spark.catalog._round8 import (
        SQL_DATASET_DATASHEET,
        q_dataset_datasheet,
    )

    _plant(
        spark,
        tmp_path,
        [
            (0, None, "en", "n", 0),
            (1, None, "fr", "n", 0),
            (2, "regular document text", "en", "a", 21),
        ],
    )
    got = [tuple(r) for r in q_dataset_datasheet(spark, str(tmp_path)).collect()]
    want = [tuple(r) for r in _duck_rows(SQL_DATASET_DATASHEET, tmp_path)]
    assert got == want
    n = dict((r[0], r) for r in got)["n"]
    # (source, n_docs, n_langs, lang_entropy, total_chars, ws_tokens, dup_rate)
    assert n[5] == 0, "all-NULL source: ws_tokens is 0, not NULL"
    assert n[6] == 1.0, "two NULL texts share the coalesced digest -> both dup"
    assert n[3] == round(math.log(2), 6)


def test_entropy_and_psi_readouts_use_exact_integer_sums():
    """r8 ADVICE #2: the last two 9dp-float-sum readouts (datasheet
    lang_entropy, events_psi psi) now quantize each libm term to integer
    nano-units and sum as BIGINT — same idiom the silhouette/inertia
    gates adopted in r8.  Pin the idiom in both oracles so a rewrite
    cannot silently regress to an order-dependent float sum, and pin the
    drifted-bin cut as the equivalent exact INTEGER compare."""
    from mcpvectordb_spark.catalog._round4_stats import SQL_EVENTS_PSI
    from mcpvectordb_spark.catalog._round8 import SQL_DATASET_DATASHEET

    assert (
        "sum(CAST(round(-(CAST(nl AS DOUBLE) / nt) * ln(CAST(nl AS DOUBLE) / nt) * 1e9) AS BIGINT))"
        in SQL_DATASET_DATASHEET
    )
    assert "sum(CAST(round((p - q) * ln(p / q) * 1e9) AS BIGINT))" in SQL_EVENTS_PSI
    # 0.01 in nano-units: the cut key is an exact integer on both engines
    assert "> 10000000" in SQL_EVENTS_PSI


def test_session_cache_miss_records_build_seconds(spark, monkeypatch):
    """Every session artifact leaves its one-off build cost in the ledger
    bench.py surfaces, under its name, at its first use; a second use
    returns the same object and records nothing (the ledger answers 'what
    does a cold consumer pay')."""
    import mcpvectordb_spark.catalog as catalog
    import mcpvectordb_spark.catalog._common as common
    from conftest import SF as sf

    recorded = []
    record = common._record_build
    monkeypatch.setattr(common, "_record_build", lambda name, s: (recorded.append(name), record(name, s)))
    uses = {
        "copurchase_pairs": lambda: catalog._copurchase_pairs(spark, sf),
        "bm25_index": lambda: catalog._shared_bm25_index(spark, sf),
        "shingle_index_raw_3": lambda: catalog._shared_shingles(spark, sf, "raw", 3),
        "ssjoin_postings_near_3": lambda: catalog._shared_ssjoin_postings(spark, sf),
        "neardup_pairs_near_3_0.5": lambda: catalog._shared_neardup_pairs(spark, sf),
        "minhash_sigs_16_3": lambda: catalog._shared_minhash_sigs(spark, sf),
        "stream_input_ledger_probe": lambda: catalog._stream_input_dir(spark, sf, "ledger_probe", lambda d: None),
        "supplier_part_recurring": lambda: catalog._supplier_part_recurring(spark, sf),
        "w2v_vectors_32": lambda: catalog._shared_w2v(spark, sf, 32),
        "lr_scored": lambda: catalog._lr_scored(spark, sf),
        "lloyd_k8_iters2": lambda: catalog._shared_lloyd(spark, sf),
        "pq_refined_codebooks": lambda: catalog._shared_pq_codebooks(spark, sf),
    }
    for name, use in uses.items():
        first = use()
        assert common.SESSION_BUILD_SECONDS.get(name, 0) > 0, name
        before = list(recorded)
        assert use() is first, name
        assert recorded == before, (name, recorded[len(before):])
    os.rmdir(uses["stream_input_ledger_probe"]())


def test_stream_input_dir_lies_in_the_application_directory(spark):
    """Stream fixtures live under the driver's per-application directory,
    which Spark deletes at stop, not in the system temp directory where
    nothing would remove them."""
    from pyspark import SparkFiles

    import mcpvectordb_spark.catalog as catalog
    from conftest import SF as sf

    d = catalog._stream_input_dir(spark, sf, "root_probe", lambda d: None)
    root = os.path.realpath(SparkFiles.getRootDirectory())
    assert os.path.commonpath([os.path.realpath(d), root]) == root, (d, root)
    os.rmdir(d)


def test_psi_parity_on_testdata(spark):
    """Full engine-vs-oracle replay of events_psi at sf0.001 after the
    exact-integer rewrite (the driver window re-checks at sf0.01; this
    keeps the gate local and fast)."""
    from mcpvectordb_spark.catalog import ORACLES, QUERIES

    sf = "/root/testdata/sf0.001"
    got = sorted(tuple(r) for r in QUERIES["events_psi"](spark, sf).collect())
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{sf}/events.parquet')"
    )
    want = sorted(tuple(r) for r in con.execute(ORACLES["events_psi"]).fetchall())
    assert got == want
