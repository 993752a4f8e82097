"""Ground-truth wire interop vs the REAL Apache DataSketches library.

Spark's distribution bundles datasketches-java 6.2.0 (the exact core
library the reference links through its C++ adapter layer,
/root/reference/src/*_c_adapter.cpp), reachable over py4j. Every
canonical image this engine emits must heapify in that library and agree
value-for-value, and every image that library emits must parse here —
the strongest interop evidence available in this sandbox (earlier rounds
verified against the documented formats only, believing no library was
present).

Each family checks BOTH directions:
  java -> us : library-built image parses; estimates/quantiles agree
  us -> java : our image heapifies in the library; values agree; for
               hash-identity families (theta, HLL) the retained-hash /
               register SETS are proven identical (intersections and
               register arrays, not just estimates)
"""

import numpy as np
import pytest

from datasketches_postgresql_spark.sketches import aod as AODK
from datasketches_postgresql_spark.sketches import aod_interop as AODI
from datasketches_postgresql_spark.sketches import fi as FIK
from datasketches_postgresql_spark.sketches import fi_interop as FII
from datasketches_postgresql_spark.sketches import hll_interop as HI
from datasketches_postgresql_spark.sketches import interop as TI
from datasketches_postgresql_spark.sketches import kll as KLLK
from datasketches_postgresql_spark.sketches import kll_interop as KLLI
from datasketches_postgresql_spark.sketches import quantiles as QK
from datasketches_postgresql_spark.sketches import req as REQK
from datasketches_postgresql_spark.sketches import req_interop as REQI
from datasketches_postgresql_spark.sketches import theta as TK
from datasketches_postgresql_spark.sketches.murmur3 import hash128_u64


@pytest.fixture(scope="module")
def jvm(spark):
    j = spark._jvm
    try:
        j.java.lang.Class.forName("org.apache.datasketches.theta.UpdateSketch")
    except Exception:
        pytest.skip("datasketches-java not on the Spark classpath")
    return j


@pytest.fixture(scope="module")
def mem(jvm):
    return jvm.org.apache.datasketches.memory.Memory


class TestThetaGroundTruth:
    N = 1500

    def test_java_image_parses_and_matches(self, jvm):
        us = jvm.org.apache.datasketches.theta.UpdateSketch.builder().build()
        for i in range(self.N):
            us.update(i)
        internal = TI.deserialize_compact(bytes(us.compact().toByteArray()))
        assert TK.get_estimate(internal) == us.compact().getEstimate() == self.N

    def test_our_image_heapifies_with_identical_hashes(self, jvm, mem):
        keys = np.arange(self.N, dtype=np.uint64)
        img = TI.serialize_compact(TI.build_murmur(keys))
        wrapped = jvm.org.apache.datasketches.theta.Sketches.wrapSketch(mem.wrap(img))
        assert wrapped.getEstimate() == self.N
        us = jvm.org.apache.datasketches.theta.UpdateSketch.builder().build()
        for i in range(self.N):
            us.update(i)
        inter = jvm.org.apache.datasketches.theta.SetOperation.builder().buildIntersection()
        inter.intersect(wrapped)
        inter.intersect(us.compact())
        # identical retained hash SETS, not merely equal estimates
        assert inter.getResult().getEstimate() == self.N
        anotb = jvm.org.apache.datasketches.theta.SetOperation.builder().buildANotB()
        assert anotb.aNotB(wrapped, us.compact()).getEstimate() == 0.0


class TestHllGroundTruth:
    N = 5000
    LG_K = 12

    @pytest.mark.parametrize("tname,width", [("HLL_4", 4), ("HLL_6", 6), ("HLL_8", 8)])
    def test_registers_identical_both_directions(self, jvm, tname, width):
        tgt = getattr(jvm.org.apache.datasketches.hll.TgtHllType, tname)
        js = jvm.org.apache.datasketches.hll.HllSketch(self.LG_K, tgt)
        for i in range(self.N):
            js.update(i)
        lgk_j, w_j, regs_j = HI.deserialize_hll(bytes(js.toCompactByteArray()))
        assert (lgk_j, w_j) == (self.LG_K, width)
        h1, h2 = hash128_u64(np.arange(self.N, dtype=np.uint64), seed=9001)
        regs_ours = HI.registers_murmur(h1, h2, self.LG_K)
        # the register ARRAYS are equal — unions across systems are exact
        assert np.array_equal(regs_j, regs_ours)
        assert abs(HI.get_estimate(HI.serialize_hll(self.LG_K, regs_ours, width))
                   - js.getEstimate()) / self.N < 0.015

    @pytest.mark.parametrize("tname,width", [("HLL_4", 4), ("HLL_6", 6), ("HLL_8", 8)])
    def test_our_image_heapifies_in_java(self, jvm, tname, width):
        tgt = getattr(jvm.org.apache.datasketches.hll.TgtHllType, tname)
        js = jvm.org.apache.datasketches.hll.HllSketch(self.LG_K, tgt)
        for i in range(self.N):
            js.update(i)
        h1, h2 = hash128_u64(np.arange(self.N, dtype=np.uint64), seed=9001)
        regs = HI.registers_murmur(h1, h2, self.LG_K)
        img = HI.serialize_hll(self.LG_K, regs, width)
        hs = jvm.org.apache.datasketches.hll.HllSketch.heapify(img)
        assert hs.getLgConfigK() == self.LG_K
        # register identity, proven in the library itself: java's composite
        # over OUR image equals its composite over ITS OWN sketch, and the
        # union of the two does not grow
        assert hs.getCompositeEstimate() == js.getCompositeEstimate()
        u = jvm.org.apache.datasketches.hll.Union(self.LG_K)
        u.update(hs)
        u.update(js)
        assert u.getResult(tgt).getCompositeEstimate() == js.getCompositeEstimate()
        # our composite variant (no interpolation tables) stays within 1%
        assert abs(HI.get_estimate(img) - js.getCompositeEstimate()) / self.N < 0.01


class TestKllGroundTruth:
    @pytest.mark.parametrize("dtype,cls,cast", [("<f4", "KllFloatsSketch", np.float32),
                                                ("<f8", "KllDoublesSketch", np.float64)])
    def test_java_image_parses(self, jvm, dtype, cls, cast):
        jk = getattr(jvm.org.apache.datasketches.kll, cls).newHeapInstance(200)
        vals = np.random.default_rng(5).normal(size=6000).astype(cast)
        for v in vals:
            jk.update(float(v))
        st = KLLK.KllState.deserialize(KLLI.deserialize(bytes(jk.toByteArray()), dtype=dtype))
        # same retained items + weights -> identical quantiles at matching
        # (inclusive) rank semantics
        for r in (0.1, 0.5, 0.9):
            assert abs(st.get_quantile(r, inclusive=True) - jk.getQuantile(r)) < 1e-6
        assert st.n == jk.getN()
        # py4j renders a java float through its shortest decimal repr, so
        # compare at float32 precision
        assert np.float32(st.min) == np.float32(jk.getMinItem())
        assert np.float32(st.max) == np.float32(jk.getMaxItem())

    @pytest.mark.parametrize("dtype,cls,cast", [("<f4", "KllFloatsSketch", np.float32),
                                                ("<f8", "KllDoublesSketch", np.float64)])
    def test_our_image_heapifies(self, jvm, mem, dtype, cls, cast):
        vals = np.random.default_rng(6).normal(size=6000).astype(cast).astype(np.float64)
        mine = KLLK.build(vals, k=200)
        img = KLLI.serialize(mine, dtype=dtype)
        jk = getattr(jvm.org.apache.datasketches.kll, cls).heapify(mem.wrap(img))
        st = KLLK.KllState.deserialize(mine)
        assert jk.getN() == st.n
        for r in (0.25, 0.5, 0.75):
            assert abs(jk.getQuantile(r) - st.get_quantile(r, inclusive=True)) < 1e-6


    @staticmethod
    def _assert_java_answers(jk, st):
        """Java's n, min, max and inclusive quantiles and ranks on the same
        image equal the kernel's."""
        assert st.n == jk.getN()
        if st.n == 0:
            assert jk.isEmpty()
            return
        assert (st.min, st.max) == (jk.getMinItem(), jk.getMaxItem())
        for r in (0.0, 0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99, 1.0):
            q = st.get_quantile(r, inclusive=True)
            assert q == jk.getQuantile(r), r
            assert st.get_rank(q, inclusive=True) == pytest.approx(jk.getRank(q), abs=1e-12)

    def test_spark_native_image_decodes_to_java_answers(self, spark, jvm, mem):
        import pandas as pd
        from pyspark.sql import functions as F

        x = np.random.default_rng(8).normal(size=30_000)
        df = spark.createDataFrame(pd.DataFrame({"g": np.arange(x.size) % 2, "x": x}))
        rows = df.groupBy("g").agg(F.kll_sketch_agg_double("x", 100).alias("sk")).collect()
        for row in rows:
            image = bytes(row["sk"])
            st = KLLK.decode(image)
            assert len(st.levels) > 1  # estimation regime
            jk = jvm.org.apache.datasketches.kll.KllDoublesSketch.heapify(mem.wrap(image))
            self._assert_java_answers(jk, st)

    def test_numpy_images_merge_natively_and_heapify(self, spark, jvm, mem):
        from pyspark.sql import functions as F

        rng = np.random.default_rng(9)
        parts = [rng.normal(size=n) for n in (0, 1, 150, 4000, 20_000)]
        images = [KLLK.build(p, 200) for p in parts]
        for image in images:
            jk = jvm.org.apache.datasketches.kll.KllDoublesSketch.heapify(mem.wrap(image))
            self._assert_java_answers(jk, KLLK.decode(image))
        df = spark.createDataFrame([(bytearray(b),) for b in images] + [(None,)], "sk binary")
        merged = bytes(df.agg(F.kll_merge_agg_double("sk").alias("m")).collect()[0]["m"])
        st = KLLK.decode(merged)
        assert st.n == sum(p.size for p in parts)
        assert (st.min, st.max) == (min(p.min() for p in parts if p.size),
                                    max(p.max() for p in parts if p.size))
        jk = jvm.org.apache.datasketches.kll.KllDoublesSketch.heapify(mem.wrap(merged))
        self._assert_java_answers(jk, st)

    def test_numpy_merged_image_keeps_levels_sorted(self, spark, jvm, mem):
        """A numpy merge or an update into a non-empty level leaves levels
        above 0 as concatenated sorted runs; the image still holds every
        level sorted, as Java's sorted view, merge and compaction assume."""
        from pyspark.sql import functions as F

        rng = np.random.default_rng(10)
        parts = [rng.normal(size=300) for _ in range(2)]
        stream = KLLK.KllState(200)  # the streaming sink's shape: many small updates
        for _ in range(50):
            stream.update(rng.normal(size=37))
        for image in (KLLK.merge([KLLK.build(p, 200) for p in parts]), stream.serialize()):
            st = KLLK.decode(image)
            assert len(st.levels) > 1
            assert all(np.all(np.diff(level) >= 0) for level in st.levels)
            jk = jvm.org.apache.datasketches.kll.KllDoublesSketch.heapify(mem.wrap(image))
            self._assert_java_answers(jk, st)
            # and Spark's merge reads it as it is
            df = spark.createDataFrame([(bytearray(image),), (bytearray(KLLK.build(parts[0], 200)),)], "sk binary")
            twice = bytes(df.agg(F.kll_merge_agg_double("sk").alias("m")).collect()[0]["m"])
            jk2 = jvm.org.apache.datasketches.kll.KllDoublesSketch.heapify(mem.wrap(twice))
            self._assert_java_answers(jk2, KLLK.decode(twice))
            assert jk2.getN() == st.n + parts[0].size

class TestFiGroundTruth:
    LG_K = 7

    def _planted(self):
        items, weights = [], []
        for i, w in (("alpha", 900), ("beta", 500), ("gamma", 250)):
            items.append(i)
            weights.append(w)
        for i in range(40):
            items.append(f"tail{i}")
            weights.append(3)
        return items, weights

    def test_our_image_loads_in_java(self, jvm, mem):
        items, weights = self._planted()
        img = FII.serialize(FIK.build(self.LG_K, items, weights))
        serde = jvm.org.apache.datasketches.common.ArrayOfStringsSerDe()
        js = jvm.org.apache.datasketches.frequencies.ItemsSketch.getInstance(
            mem.wrap(img), serde
        )
        # exact regime (43 distinct < 0.75 * 2^7): zero error, exact counts
        assert js.getMaximumError() == 0
        assert js.getEstimate("alpha") == 900
        assert js.getEstimate("beta") == 500
        assert js.getEstimate("tail7") == 3

    def test_java_image_parses_here(self, jvm):
        serde = jvm.org.apache.datasketches.common.ArrayOfStringsSerDe()
        js = jvm.org.apache.datasketches.frequencies.ItemsSketch(1 << self.LG_K)
        items, weights = self._planted()
        for i, w in zip(items, weights):
            js.update(i, w)
        internal = FII.deserialize(bytes(js.toByteArray(serde)))
        st = FIK.FiState.deserialize(internal)
        # exact regime: the stored counter IS the count (err = 0)
        assert st.items["alpha"][0] == 900 and st.items["alpha"][1] == 0
        assert st.items["beta"][0] == 500

    # -- estimation regime: offset > 0, so Java's stored counter (the lower
    # bound) and the upper bound counter + offset differ --------------------

    @staticmethod
    def _zipf(n, a, seed):
        rng = np.random.default_rng(seed)
        return [f"z{i}" for i in rng.zipf(a, size=n)]

    @staticmethod
    def _counts(stream):
        truth = {}
        for s in stream:
            truth[s] = truth.get(s, 0) + 1
        return truth

    @staticmethod
    def _assert_brackets(st, truth):
        """Every item's bounds hold its exact count; an untracked item's
        count is at most the offset (Java bounds it by [0, offset])."""
        for s, c in truth.items():
            if s in st.items:
                ub, err = st.items[s]
                assert ub - err <= c <= ub, (s, c, ub, err)
            else:
                assert c <= st.offset, (s, c, st.offset)

    @staticmethod
    def _assert_java_bounds(js, st, absent):
        """Java's bounds on the same image equal the decoded ones: tracked
        items [ub - err, ub], untracked ones [0, offset]."""
        assert js.getMaximumError() == st.offset
        assert js.getNumActiveItems() == len(st.items)
        for s, (ub, err) in st.items.items():
            assert (js.getLowerBound(s), js.getUpperBound(s)) == (ub - err, ub), s
        for s in absent:
            assert (js.getLowerBound(s), js.getUpperBound(s)) == (0, st.offset), s

    def _decode(self, image):
        return FIK.FiState.deserialize(FII.deserialize(image))

    def test_java_estimation_image_decodes_with_java_bounds(self, jvm):
        stream = self._zipf(12_000, 1.3, seed=11)
        truth = self._counts(stream)
        js = jvm.org.apache.datasketches.frequencies.ItemsSketch(1 << 6)
        for s in stream:
            js.update(s)
        serde = jvm.org.apache.datasketches.common.ArrayOfStringsSerDe()
        st = self._decode(bytes(js.toByteArray(serde)))
        assert st.offset > 0
        self._assert_java_bounds(js, st, [s for s in truth if s not in st.items][:50])
        self._assert_brackets(st, truth)

    def test_our_multi_batch_build_loads_in_java(self, jvm, mem):
        stream = self._zipf(12_000, 1.3, seed=12)
        truth = self._counts(stream)
        # per-batch partials merged, as the two-phase aggregate builds them
        mine = FIK.merge(self.LG_K, [FIK.build(self.LG_K, list(b)) for b in np.array_split(stream, 8)])
        ours = FIK.FiState.deserialize(mine)
        assert ours.offset > 0 and any(err > 0 for _ub, err in ours.items.values())
        self._assert_brackets(ours, truth)
        img = FII.serialize(mine)
        serde = jvm.org.apache.datasketches.common.ArrayOfStringsSerDe()
        js = jvm.org.apache.datasketches.frequencies.ItemsSketch.getInstance(mem.wrap(img), serde)
        back = self._decode(img)
        # the round trip keeps every exported item's upper bound
        assert all(ours.items[s][0] == ub for s, (ub, _err) in back.items.items())
        self._assert_java_bounds(js, back, [s for s in truth if s not in back.items][:50])
        self._assert_brackets(back, truth)

    def test_spark_native_top_k_image_decodes_with_java_bounds(self, spark, jvm, mem):
        import pandas as pd
        from pyspark.sql import functions as F

        stream = self._zipf(200_000, 1.1, seed=3)
        truth = self._counts(stream)
        acc = (
            spark.createDataFrame(pd.DataFrame({"v": stream}))
            .select(F.expr("approx_top_k_accumulate(v, 512)").alias("acc"))
            .collect()[0]["acc"]
        )
        # the field is the family-10 image plus a big-endian count of NULL
        # inputs (none here); the decoder strips it and checks the image ends
        # exactly there
        field = bytes(acc["sketch"])
        assert field[-8:] == bytes(8)
        image = field[:-8]
        st = FIK.FiState.deserialize(FII.from_top_k_accumulate(field))
        assert st.offset > 0
        with pytest.raises(ValueError, match="trailing bytes"):
            FII.deserialize(field)
        serde = jvm.org.apache.datasketches.common.ArrayOfStringsSerDe()
        js = jvm.org.apache.datasketches.frequencies.ItemsSketch.getInstance(mem.wrap(image), serde)
        self._assert_java_bounds(js, st, [s for s in truth if s not in st.items][:50])
        self._assert_brackets(st, truth)


class TestAodGroundTruth:
    N = 300

    def test_our_image_heapifies(self, jvm, mem):
        keys = np.arange(self.N, dtype=np.uint64)
        vals = np.stack([np.arange(self.N, dtype=np.float64),
                         np.ones(self.N)], axis=1)
        img = AODI.serialize_compact(AODI.build_murmur(keys, vals))
        js = jvm.org.apache.datasketches.tuple.arrayofdoubles.ArrayOfDoublesSketches.heapifySketch(
            mem.wrap(img)
        )
        assert js.getEstimate() == self.N
        it = js.iterator()
        s0 = s1 = 0.0
        while it.next():
            v = it.getValues()
            s0 += v[0]
            s1 += v[1]
        assert s0 == float(np.arange(self.N).sum()) and s1 == float(self.N)

    def test_java_image_parses_here(self, jvm, gateway_arr):
        b = jvm.org.apache.datasketches.tuple.arrayofdoubles.ArrayOfDoublesUpdatableSketchBuilder()
        js = b.setNumberOfValues(2).build()
        for i in range(self.N):
            js.update(i, gateway_arr([float(i), 1.0]))
        internal = AODI.deserialize_compact(bytes(js.compact().toByteArray()))
        assert AODK.get_estimate(internal) == self.N

    @pytest.fixture(scope="class")
    def gateway_arr(self, spark):
        gw = spark.sparkContext._gateway

        def make(values):
            arr = gw.new_array(gw.jvm.double, len(values))
            for i, v in enumerate(values):
                arr[i] = v
            return arr

        return make


class TestReqGroundTruth:
    def test_our_image_heapifies(self, jvm, mem):
        vals = np.random.default_rng(8).uniform(0, 1000, size=5000)
        mine = REQK.build(vals, k=12, hra=True)
        img = REQI.serialize_canonical(mine)
        js = jvm.org.apache.datasketches.req.ReqSketch.heapify(mem.wrap(img))
        assert js.getN() == 5000
        st = REQK.ReqState.deserialize(mine)
        for r in (0.5, 0.95, 0.99):
            # a java float arrives through its shortest decimal repr
            assert np.float32(js.getQuantile(r)) == np.float32(st.get_quantile(r, inclusive=True))

    def test_java_image_parses_here(self, jvm):
        b = jvm.org.apache.datasketches.req.ReqSketch.builder()
        b.setK(12)
        b.setHighRankAccuracy(True)
        js = b.build()
        vals = np.random.default_rng(9).uniform(0, 1000, size=5000)
        for v in vals:
            js.update(float(v))
        st = REQK.ReqState.deserialize(REQI.deserialize_canonical(bytes(js.toByteArray())))
        assert st.n == 5000
        for r in (0.5, 0.95, 0.99):
            assert np.float32(st.get_quantile(r, inclusive=True)) == np.float32(js.getQuantile(r))


class TestQuantilesGroundTruth:
    def test_exact_regime_equality(self, jvm, mem):
        vals = np.random.default_rng(10).normal(size=200)  # n < 2k: base buffer only
        img = QK.build(vals, k=128)
        js = jvm.org.apache.datasketches.quantiles.DoublesSketch.heapify(mem.wrap(img))
        st = QK.QuantilesState.deserialize(img)
        assert js.getN() == 200
        for r in (0.1, 0.5, 0.9):
            assert abs(js.getQuantile(r) - st.get_quantile(r, inclusive=True)) < 1e-12

    def test_estimation_regime_both_directions(self, jvm, mem):
        vals = np.random.default_rng(11).normal(size=5000)
        img = QK.build(vals, k=128)
        js = jvm.org.apache.datasketches.quantiles.DoublesSketch.heapify(mem.wrap(img))
        st = QK.QuantilesState.deserialize(img)
        for r in (0.25, 0.5, 0.75):
            assert abs(js.getQuantile(r) - st.get_quantile(r, inclusive=True)) < 1e-9
        # reverse: library-built compact image parses here
        ub = jvm.org.apache.datasketches.quantiles.DoublesSketch.builder().setK(128).build()
        for v in vals:
            ub.update(float(v))
        st2 = QK.QuantilesState.deserialize(bytes(ub.toByteArray(True)))
        assert st2.n == 5000
        for r in (0.25, 0.5, 0.75):
            assert abs(ub.getQuantile(r) - st2.get_quantile(r, inclusive=True)) < 1e-9


class TestThetaStringKeys:
    def test_utf8_canonicalization_and_empty_string_semantics(self, jvm, mem):
        """String updates must land on the SAME hashes as java's
        update(String) — UTF-8 canonicalization — and the empty string must
        be a no-op update exactly like the ecosystem's (this test caught the
        divergence: the first version counted \"\" as an item)."""
        us = jvm.org.apache.datasketches.theta.UpdateSketch.builder().build()
        words = [f"user_{i}" for i in range(800)] + ["héllo wörld", "日本語テキスト", ""]
        for w in words:
            us.update(w)
        assert us.compact().getEstimate() == 802.0  # java ignored ""
        img = TI.serialize_compact(TI.build_murmur_strings(words))
        wrapped = jvm.org.apache.datasketches.theta.Sketches.wrapSketch(mem.wrap(img))
        assert wrapped.getEstimate() == 802.0
        inter = jvm.org.apache.datasketches.theta.SetOperation.builder().buildIntersection()
        inter.intersect(wrapped)
        inter.intersect(us.compact())
        assert inter.getResult().getEstimate() == 802.0


class TestThetaEstimationRegime:
    """Theta past its exact regime (N = 100k keys >> k = 4096), both image
    versions, both directions, and p-sampling."""

    N = 100_000

    @pytest.fixture(scope="class")
    def streamed(self, jvm):
        us = jvm.org.apache.datasketches.theta.UpdateSketch.builder().build()
        for i in range(self.N):
            us.update(i)
        return us.compact()

    @pytest.mark.parametrize("version", [3, 4])
    def test_java_image_decodes_to_java_hashes_and_estimate(self, streamed, version):
        raw = streamed.toByteArray() if version == 3 else streamed.toByteArrayCompressed()
        img = bytes(raw)
        assert img[1] == version
        theta, hashes = TK.deserialize(img)
        assert theta == streamed.getThetaLong() < TK.MAX_THETA
        assert hashes.tolist() == sorted(streamed.getCache())
        assert TK.get_estimate(img) == streamed.getEstimate()

    def test_native_spark_image_heapifies_with_the_same_estimate(self, spark, jvm, mem, streamed):
        from pyspark.sql import functions as F

        img = bytes(spark.range(self.N).agg(F.theta_sketch_agg("id")).first()[0])
        assert img[1] == 4
        js = jvm.org.apache.datasketches.theta.Sketches.heapifySketch(mem.wrap(img))
        assert js.getThetaLong() < TK.MAX_THETA
        assert TK.get_estimate(img) == js.getEstimate()
        assert TK.deserialize(img)[1].tolist() == sorted(js.getCache())

    def test_numpy_build_heapifies_with_the_same_estimate_and_hashes(self, jvm, mem, streamed):
        img = TI.build_murmur(np.arange(self.N, dtype=np.uint64))
        js = jvm.org.apache.datasketches.theta.Sketches.heapifySketch(mem.wrap(img))
        ours_theta, ours = TK.deserialize(img)
        assert js.getThetaLong() == ours_theta < TK.MAX_THETA
        assert js.getEstimate() == TK.get_estimate(img)
        # one hash space: below both thetas, the numpy build and Java's
        # streamed sketch retain the same entries
        java = np.array(sorted(streamed.getCache()), dtype=np.uint64)
        cut = min(ours_theta, streamed.getThetaLong())
        assert np.array_equal(ours[ours < np.uint64(cut)], java[java < np.uint64(cut)])

    def test_p_sampling_matches_java_set_p(self, spark, jvm):
        from datasketches_postgresql_spark.functions import theta as TH

        n = 3000  # ~1500 sampled entries < k: the exact regime of setP(0.5)
        us = jvm.org.apache.datasketches.theta.UpdateSketch.builder().setP(0.5).build()
        for i in range(n):
            us.update(i)
        java = TK.deserialize(bytes(us.compact().toByteArray()))
        native = TH.theta_sketch_build(spark.range(n), [], "id", p=0.5).first()["sketch"]
        kernel = TI.build_murmur(np.arange(n, dtype=np.uint64), p=0.5)
        for img in (native, kernel):
            theta, hashes = TK.deserialize(img)
            assert theta == java[0] == 1 << 62
            assert np.array_equal(hashes, java[1])

    def test_every_image_the_kernel_writes_heapifies(self, jvm, mem):
        keys = np.arange(self.N, dtype=np.uint64)
        a, b = TI.build_murmur(keys[:60_000]), TI.build_murmur(keys[40_000:])
        images = {
            "empty": TK.empty(),
            "single": TI.build_murmur(keys[:1]),
            "exact": TI.build_murmur(keys[:1000]),
            "estimation": a,
            "sampled": TI.build_murmur(keys[:1000], p=0.25),
            "union": TK.union([a, b]),
            "intersection": TK.intersection([a, b]),
            "a_not_b": TK.a_not_b(a, b),
        }
        for name, img in images.items():
            js = jvm.org.apache.datasketches.theta.Sketches.heapifySketch(mem.wrap(img))
            theta, hashes = TK.deserialize(img)
            assert js.getEstimate() == TK.get_estimate(img), name
            assert js.getRetainedEntries(True) == hashes.size, name
            assert js.getThetaLong() == theta, name


class TestCpcEstimatorParity:
    def test_estimates_agree_with_java_cpc(self, jvm):
        """Estimator-class parity for the INTERNAL xxhash64 coupon space
        (the canonical-wire and coupon-identity checks live in
        TestCpcWireGroundTruth): on the same cardinality, our
        coupon-matrix ICON estimate and java's CPC estimate both sit
        within the published error envelope."""
        from datasketches_postgresql_spark.sketches import cpc as C

        n, lg_k = 50_000, 11
        js = jvm.org.apache.datasketches.cpc.CpcSketch(lg_k)
        for i in range(n):
            js.update(i)
        # our kernel consumes pre-hashed uniform u64s (the engine hashes
        # with xxhash64 upstream); mix the ints the same way the column
        # path does
        import pyspark.sql.functions as F  # noqa: F401
        keys = np.arange(n, dtype=np.uint64)
        z = (keys + np.uint64(0x9E3779B97F4A7C15))
        z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        hashed = z ^ (z >> np.uint64(31))
        ours = C.get_estimate(C.build(hashed, lg_k))
        assert abs(js.getEstimate() - n) / n < 0.04
        assert abs(ours - n) / n < 0.04


class TestCpcWireGroundTruth:
    """Canonical compressed CPC images — the round-2 'out of reach'
    divergence, closed in round 3 with the spec tables and ground truth
    from the bundled library (sketches/cpc_interop.py)."""

    @pytest.mark.parametrize("lgk", [10, 11])
    @pytest.mark.parametrize("n", [0, 1, 40, 500, 3000, 20000, 200000])
    def test_byte_identical_to_library_merged_image(self, jvm, lgk, n):
        """Our writer's image over the murmur coupon matrix is BYTE-FOR-BYTE
        the image the library serializes for the same coupons (via a
        CpcUnion result — the merged-format producer), across every flavor:
        empty, sparse, hybrid, pinned, sliding."""
        from datasketches_postgresql_spark.sketches import cpc_interop as CI

        js = jvm.org.apache.datasketches.cpc.CpcSketch(lgk)
        for i in range(n):
            js.update(i)
        u = jvm.org.apache.datasketches.cpc.CpcUnion(lgk)
        u.update(js)
        img_java = bytes(u.getResult().toByteArray())
        img_ours = CI.serialize_canonical(
            CI.build_murmur(np.arange(n, dtype=np.uint64), lgk)
        )
        assert img_ours == img_java

    @pytest.mark.parametrize("n", [1, 40, 500, 3000, 20000, 200000])
    def test_library_hip_image_parses_here(self, jvm, n):
        """Direct (HIP-format) library images parse into the engine's
        matrix; the ICON/MLE estimate stays within the CPC error envelope
        of the library's own estimate."""
        from datasketches_postgresql_spark.sketches import cpc as C
        from datasketches_postgresql_spark.sketches import cpc_interop as CI

        js = jvm.org.apache.datasketches.cpc.CpcSketch(11)
        for i in range(n):
            js.update(i)
        back = CI.deserialize_canonical(bytes(js.toByteArray()))
        est = C.get_estimate(back)
        assert abs(est - js.getEstimate()) / max(n, 1) < 0.02

    def test_our_image_heapifies_and_unions_in_java(self, jvm):
        """The library accepts our image: heapify + union with a
        library-built sketch over the same keys must not grow the estimate
        (coupon-set identity, proven in the library itself)."""
        from datasketches_postgresql_spark.sketches import cpc_interop as CI

        n, lgk = 20000, 11
        img = CI.serialize_canonical(CI.build_murmur(np.arange(n, dtype=np.uint64), lgk))
        hs = jvm.org.apache.datasketches.cpc.CpcSketch.heapify(img)
        js = jvm.org.apache.datasketches.cpc.CpcSketch(lgk)
        for i in range(n):
            js.update(i)
        u = jvm.org.apache.datasketches.cpc.CpcUnion(lgk)
        u.update(hs)
        u.update(js)
        merged = u.getResult()
        alone = jvm.org.apache.datasketches.cpc.CpcUnion(lgk)
        alone.update(js)
        assert merged.getEstimate() == alone.getResult().getEstimate()


class TestCpcCrossLgKUnion:
    def test_reduce_matches_library_union(self, jvm):
        """Union of lgK-12 and lgK-10 sketches: our row-fold reduction must
        land on the library's own cross-K union result EXACTLY (byte
        identity of the merged image at the reduced lgK)."""
        from datasketches_postgresql_spark.sketches import cpc_interop as CI

        big = jvm.org.apache.datasketches.cpc.CpcSketch(12)
        small = jvm.org.apache.datasketches.cpc.CpcSketch(10)
        for i in range(30000):
            big.update(i)
        for i in range(20000, 50000):
            small.update(i)
        u = jvm.org.apache.datasketches.cpc.CpcUnion(12)
        u.update(big)
        u.update(small)
        img_java = bytes(u.getResult().toByteArray())
        ours = CI.union_canonical(
            [
                CI.build_murmur(np.arange(30000, dtype=np.uint64), 12),
                CI.build_murmur(np.arange(20000, 50000, dtype=np.uint64), 10),
            ]
        )
        assert CI.serialize_canonical(ours) == img_java


class TestCpcStringKeys:
    def test_string_coupons_identical_to_library(self, jvm):
        """update(String) parity for the compat build: byte-identical
        merged image over UTF-8 string keys (incl. non-ASCII; empty
        string is a no-op update both sides)."""
        from datasketches_postgresql_spark.sketches import cpc_interop as CI

        words = [f"user_{i}" for i in range(3000)] + ["héllo wörld", "日本語", ""]
        js = jvm.org.apache.datasketches.cpc.CpcSketch(11)
        for w in words:
            js.update(w)
        u = jvm.org.apache.datasketches.cpc.CpcUnion(11)
        u.update(js)
        img_java = bytes(u.getResult().toByteArray())
        img_ours = CI.serialize_canonical(CI.build_murmur_strings(words, 11))
        assert img_ours == img_java
