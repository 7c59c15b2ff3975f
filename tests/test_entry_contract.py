"""Driver-contract smoke: entry() runs with >0 rows and a stable schema;
every oracle key has a query; full oracle parity is tools/check_oracles.py."""

import os

import pytest

import __spark_entry__ as entry_mod


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert df.columns == ["lang", "approx_docs", "exact_docs", "within_bound"]
    assert all(r["within_bound"] for r in rows)


def test_contract_keys_consistent():
    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    assert set(oracles) <= set(qs)
    # every query is either oracle-checked or explicitly rows-only
    rows_only = set(qs) - set(oracles)
    assert rows_only == {
        "simhash_docs",
        "multimodal_features",
    }
    # the driver records at most 50 rows — every exported query must land
    # in CORRECTNESS_r{N} (VERDICT r02 #1)
    assert len(qs) <= 50


def test_queries_return_dataframes(spark):
    qs = entry_mod.queries()
    sf = "/root/testdata/sf0.001"
    # spot-check a representative subset at the smallest sf
    for name in ("hll_suppliers_per_nation", "dedup_exact_docs", "pricing_summary"):
        df = qs[name](spark, sf)
        assert df.count() > 0, name


def test_dedup_paragraph_oracle_handles_empty_docs(spark, tmp_path):
    """ADVICE r04: a token-less doc (empty / whitespace-only text) gets
    ONE synthesized empty paragraph on the Spark side; the DuckDB oracle
    must not drop it (unnest of an empty token list yields no rows) —
    both sides must agree on a corpus that actually contains such docs."""
    import duckdb

    rows = [
        (0, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        (1, ""),            # token-less: empty text
        (2, " \t "),        # token-less: whitespace-only
        (3, ""),            # second empty doc — loses the '' winner race to doc 1
        (4, "alpha beta gamma delta epsilon zeta eta theta iota kappa extra"),
    ]
    sf_dir = str(tmp_path / "sf_empty")
    spark.createDataFrame(rows, "doc_id long, text string").coalesce(1).write.parquet(
        f"{sf_dir}/documents.parquet"
    )
    spdf = (
        entry_mod.q_dedup_paragraph_docs(spark, sf_dir)
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet/*.parquet'")
    opdf = (
        con.execute(entry_mod.oracle_sql()["dedup_paragraph_docs"])
        .df()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    assert len(spdf) == len(opdf) == 5
    for col in ("n_paras", "n_kept", "dedup_text_md5"):
        assert list(spdf[col]) == list(opdf[col]), col
    # the empty docs: one synthesized paragraph each, doc 1 wins md5('')
    by_id = {r.doc_id: r for r in spdf.itertuples()}
    assert by_id[1].n_paras == 1 and by_id[1].n_kept == 1
    assert by_id[2].n_kept == 0 and by_id[3].n_kept == 0


class _FakeQuery:
    def __init__(self, finishes):
        self.finishes, self.stopped = finishes, False

    def awaitTermination(self, timeout):
        return self.finishes

    def stop(self):
        self.stopped = True


def test_await_stream_raises_on_timeout():
    """ADVICE r05: a stream that does not finish in time is stopped and
    raises RuntimeError (an explicit raise, which python -O keeps)."""
    q = _FakeQuery(finishes=False)
    with pytest.raises(RuntimeError, match="replay did not complete within 300s"):
        entry_mod._await_stream(q, 300, "replay")
    assert q.stopped
    done = _FakeQuery(finishes=True)
    entry_mod._await_stream(done, 300, "replay")
    assert not done.stopped


def test_stamp_appended_orders_mtimes_by_write(tmp_path):
    """ADVICE r05: each appended file gets a strictly later mtime than
    every earlier one, even when the filesystem gave them equal or
    reversed mtimes, so a file stream source replays them in write order."""
    stamped = []

    def write(name, mtime):
        path = tmp_path / name
        path.write_bytes(b"x")
        os.utime(path, (mtime, mtime))

    write("part-b.parquet", 1_000)
    write(".part-b.parquet.crc", 1_000)
    entry_mod._stamp_appended(str(tmp_path), stamped, 5_000)
    write("part-a.parquet", 1_000)  # same mtime, sorts first by name
    entry_mod._stamp_appended(str(tmp_path), stamped, 5_000)
    write("part-0.parquet", 900)  # older mtime than both
    entry_mod._stamp_appended(str(tmp_path), stamped, 5_000)
    assert stamped == ["part-b.parquet", "part-a.parquet", "part-0.parquet"]
    mtimes = [os.stat(tmp_path / n).st_mtime for n in stamped]
    assert mtimes == sorted(set(mtimes)) and mtimes[0] == 5_000
    assert os.stat(tmp_path / ".part-b.parquet.crc").st_mtime == 1_000
