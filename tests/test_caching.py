"""bounded_persist: the CacheManager-canonical-plan contract, pinned.

The regression this guards: CacheManager keys persisted frames by
canonical plan, so for a repeated identical query `persist(new)` maps
to the previous call's entry — naively unpersisting the previous object
deletes the cache out from under the new frame (measured 3× slower warm
passes in the distrank benchmark before the sameSemantics check)."""

from pyspark.sql import functions as F

from event_streamer_spark.caching import _SLOTS, bounded_persist, clear_slot


def _frame(spark, n=1000, mult=2):
    return spark.range(n).select(
        "id", (F.col("id") * mult).alias("v")
    ).groupBy((F.col("id") % 10).alias("k")).agg(F.sum("v").alias("s"))


class TestBoundedPersist:
    def teardown_method(self):
        clear_slot()

    def test_identical_plan_keeps_cache_live(self, spark):
        a = bounded_persist(_frame(spark), "t.slot")
        a.count()  # materialize
        assert a.storageLevel.useMemory
        b = bounded_persist(_frame(spark), "t.slot")  # same canonical plan
        assert b.storageLevel.useMemory
        # the FIRST frame's cache entry must still be live — evicting it
        # would have emptied the shared entry
        assert a.storageLevel.useMemory
        assert b.count() == 10

    def test_different_plan_evicts_previous(self, spark):
        a = bounded_persist(_frame(spark, mult=2), "t.slot")
        a.count()
        b = bounded_persist(_frame(spark, mult=3), "t.slot")  # new plan
        assert b.storageLevel.useMemory
        assert not a.storageLevel.useMemory  # previous entry released
        assert list(_SLOTS) == ["t.slot"]  # one live frame per slot

    def test_slots_are_independent(self, spark):
        a = bounded_persist(_frame(spark, mult=2), "slot.a")
        b = bounded_persist(_frame(spark, mult=3), "slot.b")
        a.count(), b.count()
        assert a.storageLevel.useMemory and b.storageLevel.useMemory
        clear_slot("slot.a")
        assert not a.storageLevel.useMemory
        assert b.storageLevel.useMemory

    def test_clear_all_slots(self, spark):
        a = bounded_persist(_frame(spark, mult=2), "slot.a")
        b = bounded_persist(_frame(spark, mult=3), "slot.b")
        clear_slot()
        assert not a.storageLevel.useMemory
        assert not b.storageLevel.useMemory
        assert not _SLOTS


class TestPlanCache:
    """Prepared-plan + table-load memoization (registry.py / tables.py).

    The contract under test: repeated identical calls return the SAME
    frame object (zero rebuild cost), and rewriting a table under the
    sf_dir invalidates both caches via the CONTENT fingerprint (file
    count + total bytes + max part name — r12, object-store-safe; no
    mtimes) — a stale plan over a rewritten fixture would silently
    serve old data, while a bare ``touch`` must NOT evict."""

    def test_same_call_returns_cached_frame(self, spark, sf_dir):
        from event_streamer_spark.operators import REGISTRY

        a = REGISTRY["b11_tpch_q1"].fn(spark, sf_dir)
        b = REGISTRY["b11_tpch_q1"].fn(spark, sf_dir)
        assert a is b

    def test_rewritten_table_invalidates(self, spark, tmp_path):
        import os
        import time

        from event_streamer_spark import tables
        from event_streamer_spark.operators import REGISTRY

        sf = str(tmp_path)
        src = tables.load(spark, "/root/testdata/sf0.001", "orders")
        src.write.parquet(f"{sf}/orders.parquet")
        q = REGISTRY["b11_group_having"].fn
        n1 = q(spark, sf).count()
        a = q(spark, sf)
        assert q(spark, sf) is a  # cached while untouched
        time.sleep(0.01)
        src.limit(10).write.mode("overwrite").parquet(f"{sf}/orders.parquet")
        b = q(spark, sf)
        assert b is not a
        n2 = b.count()
        assert n2 != n1  # fresh plan sees the rewritten table

    def test_touch_without_change_keeps_cache(self, spark, tmp_path):
        """Object-store semantics (r12): a bare mtime bump is NOT a
        content change — the prepared plan stays valid and cached."""
        import os
        import time

        from event_streamer_spark import tables
        from event_streamer_spark.operators import REGISTRY

        sf = str(tmp_path)
        tables.load(spark, "/root/testdata/sf0.001", "orders").write.parquet(
            f"{sf}/orders.parquet"
        )
        q = REGISTRY["b11_group_having"].fn
        a = q(spark, sf)
        time.sleep(0.01)
        now = time.time()
        for root, _dirs, files in os.walk(f"{sf}/orders.parquet"):
            for f in files:
                os.utime(os.path.join(root, f), (now, now))
        os.utime(f"{sf}/orders.parquet", (now, now))
        assert q(spark, sf) is a  # still a cache hit

    def test_change_without_mtime_bump_invalidates(self, spark, tmp_path):
        """The converse object-store hazard: content changes while
        mtimes are restored to their old values (clock skew / copy
        tools). The content fingerprint must still evict."""
        import os
        import time

        from event_streamer_spark import tables
        from event_streamer_spark.operators import REGISTRY

        sf = str(tmp_path)
        src = tables.load(spark, "/root/testdata/sf0.001", "orders")
        src.write.parquet(f"{sf}/orders.parquet")
        old_times = {}
        for root, _dirs, files in os.walk(f"{sf}/orders.parquet"):
            for f in files:
                p = os.path.join(root, f)
                st = os.stat(p)
                old_times[f] = (st.st_atime, st.st_mtime)
        q = REGISTRY["b11_group_having"].fn
        n1 = q(spark, sf).count()
        a = q(spark, sf)
        time.sleep(0.01)
        src.limit(10).write.mode("overwrite").parquet(f"{sf}/orders.parquet")
        # restore any surviving old mtimes + pin every new file to a
        # FIXED old timestamp — an mtime-keyed cache now sees no change
        fixed = min(t[1] for t in old_times.values())
        for root, _dirs, files in os.walk(f"{sf}/orders.parquet"):
            for f in files:
                os.utime(os.path.join(root, f), old_times.get(f, (fixed, fixed)))
        os.utime(f"{sf}/orders.parquet", (fixed, fixed))
        b = q(spark, sf)
        assert b is not a
        assert b.count() != n1

    def test_table_fingerprint_shape(self, tmp_path):
        """Unit contract: (count, bytes, max_name, footer_token) for
        single files — the token is a hash of the last 64 bytes, so a
        SAME-SIZE in-place rewrite still invalidates (r13, ADVICE) —
        (count, bytes, max_name) for dirs; bookkeeping files ignored;
        None for missing paths."""
        import os

        from event_streamer_spark.tables import table_fingerprint

        f = tmp_path / "one.parquet"
        f.write_bytes(b"x" * 10)
        fp1 = table_fingerprint(str(f))
        assert fp1[:3] == (1, 10, "one.parquet")
        assert len(fp1) == 4 and isinstance(fp1[3], str)
        # same-size rewrite → different token (the r12 hazard: the old
        # (1, size, basename) key silently served a stale plan here)
        f.write_bytes(b"y" * 10)
        fp2 = table_fingerprint(str(f))
        assert fp2[:3] == fp1[:3] and fp2[3] != fp1[3]
        d = tmp_path / "tbl.parquet"
        d.mkdir()
        (d / "part-00000.parquet").write_bytes(b"a" * 7)
        (d / "part-00001.parquet").write_bytes(b"b" * 5)
        (d / "_SUCCESS").write_bytes(b"")
        (d / ".part-00000.crc").write_bytes(b"c")
        assert table_fingerprint(str(d)) == (2, 12, "part-00001.parquet")
        assert table_fingerprint(str(tmp_path / "nope.parquet")) is None
        os.remove(str(f))

    def test_plan_cache_disabled_by_env(self, spark, sf_dir, monkeypatch):
        from event_streamer_spark.operators import REGISTRY

        monkeypatch.setenv("EVENT_STREAMER_PLAN_CACHE", "0")
        a = REGISTRY["b11_tpch_q1"].fn(spark, sf_dir)
        b = REGISTRY["b11_tpch_q1"].fn(spark, sf_dir)
        assert a is not b

    def test_concurrent_same_query_is_safe(self, spark, sf_dir):
        """Eight threads racing the same (query, sf_dir) must all get a
        usable frame with the same result — the cache lock can never
        hand out a half-built entry or deadlock against the build."""
        import threading

        from event_streamer_spark.operators import REGISTRY

        fn = REGISTRY["b11_group_having"].fn
        results, errors = [], []

        def worker():
            try:
                results.append(fn(spark, sf_dir).count())
            except Exception as e:  # noqa: BLE001
                errors.append(e)

        threads = [threading.Thread(target=worker) for _ in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
        assert not errors, errors
        assert len(set(results)) == 1 and len(results) == 8
