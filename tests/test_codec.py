"""DINT codec property tests (FIXTURES.md F2, mirrors
test/test_block_posting_list.cpp and test_generic_sequence.hpp)."""

import numpy as np
import pytest

from dint_spark.dint.codec import (
    bic_decode,
    bic_encode,
    decode_list,
    decode_list_bulk,
    decode_posting_blocks,
    decode_postings,
    encode_list,
    posting_blocks,
)
from dint_spark.dint.dictionary import DintDictionary


def mkpats(stream: np.ndarray, limit=2000) -> list[bytes]:
    pats, seen = [], set()
    for s in (16, 8, 4, 2, 1):
        for i in range(0, len(stream) // s * s, s):
            p = stream[i: i + s].astype("<u4").tobytes()
            if p not in seen:
                seen.add(p)
                pats.append(p)
    return pats[:limit]


def roundtrip(docs, freqs, docs_dict, freqs_dict, optimal):
    payload, bmax, endp, foff = encode_list(docs, freqs, docs_dict,
                                            freqs_dict, optimal=optimal)
    dd, ff = decode_list(payload, len(docs), bmax, endp, docs_dict, freqs_dict)
    assert np.array_equal(dd, docs)
    assert np.array_equal(ff, freqs)
    assert bmax[-1] == docs[-1]
    assert (np.diff(endp) > 0).all()
    # bulk cross-block path must agree with the per-block path exactly
    db, fb = decode_list_bulk(payload, len(docs), bmax, endp, foff,
                              docs_dict, freqs_dict)
    assert np.array_equal(db, docs) and np.array_equal(fb, freqs)
    nblocks = len(bmax)
    if nblocks > 1:
        rng = np.random.default_rng(len(docs))
        sub = np.unique(rng.integers(0, nblocks, size=min(nblocks, 3)))
        buf, table = posting_blocks([payload], [len(docs)], [bmax], [endp],
                                    [foff], blocks=sub.tolist())
        ds, fs = decode_posting_blocks(buf, table, docs_dict, freqs_dict)
        exp_d = np.concatenate([docs[b * 256:(b + 1) * 256] for b in sub])
        exp_f = np.concatenate([freqs[b * 256:(b + 1) * 256] for b in sub])
        assert np.array_equal(ds, exp_d) and np.array_equal(fs, exp_f)
        # docs-only (lazy freqs) subset
        ds2, fs2 = decode_posting_blocks(buf, table, docs_dict, None)
        assert np.array_equal(ds2, exp_d) and fs2 is None
    return payload


@pytest.mark.parametrize("optimal", [True, False])
def test_random_roundtrip(optimal):
    rng = np.random.default_rng(42)
    for _ in range(20):
        universe = 20000
        n = int(universe / rng.uniform(1.1, 11))
        docs = np.sort(rng.choice(universe, size=n, replace=False)).astype(np.int64)
        freqs = rng.integers(1, 257, size=n).astype(np.int64)
        gaps = np.diff(docs, prepend=-1) - 1
        dd = DintDictionary.build(mkpats(gaps.astype(np.uint32)))
        fd = DintDictionary.build(mkpats((freqs - 1).astype(np.uint32)))
        roundtrip(docs, freqs, dd, fd, optimal)


@pytest.mark.parametrize("n", [1, 2, 15, 16, 17, 255, 256, 257, 511, 512, 4097])
def test_lengths_and_runs(n):
    # all-consecutive docs -> gap-0 runs -> run codewords; freqs all 1
    docs = np.arange(n, dtype=np.int64) + 7
    freqs = np.ones(n, dtype=np.int64)
    empty = DintDictionary.build([])
    payload = roundtrip(docs, freqs, empty, empty, True)
    if n >= 256:
        # dense blocks compress to run codewords: far below 1 byte/posting
        assert len(payload) < n


def test_large_gap_exceptions():
    rng = np.random.default_rng(1)
    # gaps straddling the 2-byte/4-byte exception boundary
    gaps = rng.integers(60000, 200000, size=600).astype(np.int64)
    gaps[::7] = 65535
    gaps[3::7] = 65536
    docs = np.cumsum(gaps + 1) - 1
    freqs = rng.integers(1, 300, size=600).astype(np.int64)
    empty = DintDictionary.build([])
    for optimal in (True, False):
        roundtrip(docs, freqs, empty, empty, optimal)


def test_values_above_24bit():
    # docids near 2^31 (endpoint of supported universe per shard)
    docs = np.array([2**31 - 10, 2**31 - 3, 2**31 - 1], dtype=np.int64)
    freqs = np.array([1, 2, 3], dtype=np.int64)
    empty = DintDictionary.build([])
    roundtrip(docs, freqs, empty, empty, True)


def test_bic_roundtrip_edges():
    rng = np.random.default_rng(3)
    for n in (1, 2, 3, 10, 100, 255):
        vals = rng.integers(0, 1000, size=n).astype(np.uint32)
        data = bic_encode(vals, int(vals.sum()))
        out, _ = bic_decode(data, 0, n, int(vals.sum()))
        assert np.array_equal(out, vals)
        data = bic_encode(vals, -1)
        out, _ = bic_decode(data, 0, n, -1)
        assert np.array_equal(out, vals)
    # all-zero block (freqs of an all-1 run)
    vals = np.zeros(100, dtype=np.uint32)
    data = bic_encode(vals, 0)
    assert len(data) == 0
    out, _ = bic_decode(data, 0, 100, 0)
    assert np.array_equal(out, vals)


def test_optimal_never_larger_than_greedy():
    rng = np.random.default_rng(9)
    for _ in range(5):
        docs = np.sort(rng.choice(100000, size=3000, replace=False)).astype(np.int64)
        freqs = rng.integers(1, 5, size=3000).astype(np.int64)
        gaps = np.diff(docs, prepend=-1) - 1
        dd = DintDictionary.build(mkpats(gaps.astype(np.uint32)))
        fd = DintDictionary.build(mkpats((freqs - 1).astype(np.uint32)))
        p_opt, *_ = encode_list(docs, freqs, dd, fd, optimal=True)
        p_greedy, *_ = encode_list(docs, freqs, dd, fd, optimal=False)
        assert len(p_opt) <= len(p_greedy)


def test_dictionary_serialization_roundtrip():
    rng = np.random.default_rng(5)
    pats = [rng.integers(0, 100, size=s).astype("<u4").tobytes()
            for s in (16, 8, 4, 2, 1) for _ in range(10)]
    # dedupe (build asserts uniqueness implicitly via encode_map)
    pats = list(dict.fromkeys(pats))
    d = DintDictionary.build(pats)
    d2 = DintDictionary.from_bytes(d.to_bytes())
    assert d.content_hash() == d2.content_hash()
    assert d.num_used == d2.num_used
    assert d.encode_map == d2.encode_map


def test_u32_domain_guard():
    """encode_list must reject lists outside the u32 codec domain instead of
    silently wrapping (docid sharding handles >2^32 corpora, README)."""
    empty = DintDictionary.build([])
    docs = np.array([5, 2**33], dtype=np.int64)
    freqs = np.array([1, 1], dtype=np.int64)
    with pytest.raises(ValueError, match="u32"):
        encode_list(docs, freqs, empty, empty)
    docs = np.array([5, 9], dtype=np.int64)
    freqs = np.array([1, 2**33], dtype=np.int64)
    with pytest.raises(ValueError, match="u32"):
        encode_list(docs, freqs, empty, empty)
    # boundary: max valid docid / freq pass
    docs = np.array([0xFFFFFFFF - 1, 0xFFFFFFFF], dtype=np.int64)
    freqs = np.array([2**32, 1], dtype=np.int64)
    encode_list(docs, freqs, empty, empty)


def test_dictionary_pack_policy_roundtrip():
    """B8 pack_policy (ref dictionary_building_utils.hpp:241-293): the
    serialized artifact dedupes prefix storage; the deserialized dictionary
    is exactly equal, and prefix entries share the longer entry's slot."""
    import numpy as np
    from dint_spark.dint.dictionary import DintDictionary, _pack_entries

    pats = [
        bytes(np.arange(16, dtype="<u4")),        # size 16
        bytes(np.arange(8, dtype="<u4")),         # prefix of the above
        bytes(np.arange(4, dtype="<u4")),         # prefix of both
        bytes(np.array([9, 9], dtype="<u4")),     # independent
        bytes(np.array([7], dtype="<u4")),        # independent singleton
        bytes(np.arange(2, dtype="<u4")),         # prefix again
    ]
    d = DintDictionary.build(pats)
    blob = d.to_bytes()
    d2 = DintDictionary.from_bytes(blob)
    assert d2.num_used == d.num_used
    assert np.array_equal(d2.table2d[: d.num_used], d.table2d[: d.num_used])
    assert np.array_equal(d2.sizes[: d.num_used], d.sizes[: d.num_used])
    assert d2.content_hash() == d.content_hash()
    # storage: only the 16-entry, [9,9] and [7] survive -> 19 u32 vs 33 dense
    from dint_spark.dint.codec import RESERVED
    desc, flat = _pack_entries(d.table2d, d.sizes, RESERVED, d.num_used)
    assert len(flat) == 16 + 2 + 1
    assert len(desc) == len(pats)


def test_dictionary_overlap_policy_roundtrip():
    """B9 overlap_policy (ref dictionary_building_utils.hpp:92-239):
    substring-contained entries drop, suffix-prefix overlaps merge into
    superstrings; the artifact stays loss-free and at most pack-sized."""
    import numpy as np
    from dint_spark.dint.codec import RESERVED
    from dint_spark.dint.dictionary import (
        DintDictionary, _pack_entries, _pack_entries_overlap, _ref_overlap)

    # chained-overlap definition (ref compute_overlap): requires EVERY
    # k<=L to match, not just k=L
    a = bytes(np.array([1, 2, 3, 4], dtype="<u4"))
    b = bytes(np.array([3, 4, 9, 9], dtype="<u4"))
    assert _ref_overlap(a, b) == 0  # k=1 fails (last(a)=4 != first(b)=3)
    # chained overlap >= 2 needs EVERY k to match -> repeated boundary
    # symbols (zero runs in practice): [5,0,0] + [0,0,8] chains to k=2
    c = bytes(np.array([5, 0, 0], dtype="<u4"))
    d = bytes(np.array([0, 0, 8], dtype="<u4"))
    assert _ref_overlap(c, d) == 2
    pats = [
        bytes(np.arange(16, dtype="<u4")),
        bytes(np.arange(4, 8, dtype="<u4")),   # substring (offset 4)
        bytes(np.arange(12, 20, dtype="<u4")),  # overlaps suffix 12..15
        bytes(np.array([9, 9], dtype="<u4")),
        bytes(np.array([7], dtype="<u4")),
    ]
    dd = DintDictionary.build(pats)
    blob = dd.to_bytes(policy="overlap")
    d2 = DintDictionary.from_bytes(blob)
    assert d2.num_used == dd.num_used
    assert np.array_equal(d2.table2d[: dd.num_used], dd.table2d[: dd.num_used])
    assert np.array_equal(d2.sizes[: dd.num_used], dd.sizes[: dd.num_used])
    assert d2.content_hash() == dd.content_hash()
    _, flat_pack = _pack_entries(dd.table2d, dd.sizes, RESERVED, dd.num_used)
    _, flat_ov = _pack_entries_overlap(dd.table2d, dd.sizes, RESERVED,
                                       dd.num_used)
    assert len(flat_ov) <= len(flat_pack)


def test_bic_decode_batch_property():
    """Vectorized multi-list BIC decode == per-list bic_decode on random
    short lists (incl. n=1, dense runs, large universes)."""
    import numpy as np
    from dint_spark.dint.codec import (
        bic_decode, bic_encode, bic_decode_batch)

    rng = np.random.default_rng(3)
    payloads, ns, sums = [], [], []
    expect = []
    for _ in range(300):
        n = int(rng.integers(1, 256))
        mode = rng.integers(0, 3)
        if mode == 0:
            vals = rng.integers(0, 5, size=n)        # dense, zero-heavy
        elif mode == 1:
            vals = rng.integers(0, 1 << 20, size=n)  # wide
        else:
            vals = np.zeros(n, dtype=np.int64)       # all-zero runs
        s = int(vals.sum()) + int(rng.integers(0, 3))  # universe >= sum
        enc = bic_encode(vals.astype(np.uint32), s)
        dec, _ = bic_decode(enc, 0, n, s)
        expect.append(dec.astype(np.int64))
        payloads.append(enc)
        ns.append(n)
        sums.append(s)
    lens = np.array([len(p) for p in payloads])
    starts = np.concatenate([[0], np.cumsum(lens)[:-1]])
    buf = np.frombuffer(b"".join(payloads) + b"\x00" * 16, dtype=np.uint8)
    got = bic_decode_batch(buf, starts * 8, np.array(ns), np.array(sums),
                           (starts + lens) * 8)
    offs = np.concatenate([[0], np.cumsum(ns)])
    for i, e in enumerate(expect):
        assert np.array_equal(got[offs[i]:offs[i + 1]], e), i


def test_bic_encode_batch_property():
    """Lockstep multi-block BIC encode == per-block bic_encode bytes."""
    from dint_spark.dint.codec import bic_encode_batch

    rng = np.random.default_rng(9)
    blocks, sums = [], []
    for t in range(300):
        n = int(rng.integers(1, 256))
        mode = t % 4
        if mode == 0:
            vals = rng.integers(0, 5, size=n)
        elif mode == 1:
            vals = rng.integers(0, 1 << 20, size=n)
        elif mode == 2:
            vals = np.zeros(n, dtype=np.int64)
        else:
            vals = np.minimum(rng.zipf(1.3, n).astype(np.int64) - 1, 1 << 30)
        blocks.append(vals.astype(np.int64))
        sums.append(int(vals.sum()))
    refs = [bic_encode(v.astype(np.uint32), s) for v, s in zip(blocks, sums)]
    outs = bic_encode_batch(np.concatenate(blocks),
                            np.array([len(v) for v in blocks]),
                            np.array(sums))
    assert refs == outs
    assert bic_encode_batch(np.array([], dtype=np.int64),
                            np.array([], dtype=np.int64),
                            np.array([], dtype=np.int64)) == []


@pytest.mark.parametrize("variant", ["single", "multi"])
@pytest.mark.parametrize("optimal", [True, False])
def test_encode_lists_batch_byte_identity(variant, optimal):
    """encode_lists_batch == encode_list per list, byte-for-byte (payloads
    AND block metadata), for short/exact-256/multi-block/tail/zero-heavy/
    big-exception lists, under single and multi dictionaries."""
    from dint_spark.dint.codec import encode_lists_batch
    from dint_spark.dint.dictionary import MultiDictionary, default_class_map

    rng = np.random.default_rng(17)
    lists = []
    for t in range(60):
        kind = t % 6
        n = (1, int(rng.integers(2, 255)), 256,
             int(rng.integers(257, 900)), 512, int(rng.integers(2, 1500)))[kind]
        gaps = np.zeros(n, dtype=np.int64) if kind == 4 else \
            np.minimum(rng.zipf(1.25, n).astype(np.int64) - 1, 1 << 17)
        if t == 7:
            gaps[::3] = (1 << 17) + 3  # 4-byte exceptions in full blocks
        docs = np.cumsum(gaps + 1) - 1
        freqs = np.minimum(rng.zipf(1.4, n).astype(np.int64), 1 << 20)
        lists.append((docs, freqs))

    pats_d = mkpats(np.concatenate(
        [np.diff(d, prepend=-1) - 1 for d, _ in lists]).astype(np.uint32))
    pats_f = mkpats(np.concatenate(
        [f - 1 for _, f in lists]).astype(np.uint32))
    fd = DintDictionary.build(pats_f)
    if variant == "single":
        dd = DintDictionary.build(pats_d)
    else:
        dd = MultiDictionary(
            dicts=[DintDictionary.build(pats_d),
                   DintDictionary.build(pats_d[::2])],
            class_map=default_class_map(2))

    refs = [encode_list(d, f, dd, fd, optimal=optimal) for d, f in lists]
    outs = encode_lists_batch([d for d, _ in lists], [f for _, f in lists],
                              dd, fd, optimal=optimal)
    for i, (r, o) in enumerate(zip(refs, outs)):
        assert r[0] == o[0], i
        assert np.array_equal(r[1], o[1]), i
        assert np.array_equal(r[2], o[2]), i
        assert np.array_equal(r[3], o[3]), i


def test_pattern_stats_vectorized_oracle():
    """The vectorized stats accumulator (numeric-dtype uniques for sizes
    1-2, deferred bincount merge) must count exactly what a brute-force
    per-window dict counts, in both single and per-block-context modes
    (ref statistics_collectors.hpp:82-119: the 'adjusted' collector)."""
    from dint_spark.dint import stats as S

    rng = np.random.default_rng(3)
    lists = []
    for i in range(120):
        length = max(1, min(int(rng.zipf(1.3) * 5), 3000))
        docs = np.sort(rng.choice(50_000, size=min(length, 40_000),
                                  replace=False))
        if i % 7 == 0:
            # huge gaps: values exceed every u64-packing bit budget, so the
            # void fallback of the packed window split is exercised too
            docs = docs * 70_001
        freqs = rng.integers(1, 300, len(docs))
        lists.append((docs.astype(np.int64), freqs.astype(np.int64)))

    for per_block in (False, True):
        oracle: dict = {}
        for docs, freqs in lists:
            for stream, vals in (("docs", np.diff(docs, prepend=-1) - 1),
                                 ("freqs", freqs - 1)):
                vals = vals.astype(np.uint32)
                blocks = ([vals[i:i + S.BLOCK_SIZE]
                           for i in range(0, len(vals), S.BLOCK_SIZE)]
                          if per_block else [vals])
                for b in blocks:
                    sel = (S.selector_class(int(b.max()))
                           if per_block and len(b) else 0)
                    for s in S.TARGET_SIZES:
                        for i in range(len(b) // s):
                            pat = np.ascontiguousarray(
                                b[i * s:(i + 1) * s], dtype="<u4").tobytes()
                            k = (stream, sel, pat, s)
                            oracle[k] = oracle.get(k, 0) + 1

        acc_d: dict = {}
        acc_f: dict = {}
        pend_d: dict = {}
        pend_f: dict = {}
        got: dict = {}
        for docs, freqs in lists:
            gaps = np.diff(docs, prepend=-1) - 1
            S._collect_stream(gaps.astype(np.uint32), pend_d, per_block)
            S._collect_stream((freqs - 1).astype(np.uint32), pend_f,
                              per_block)
            # merge mid-stream too, so the multi-chunk compaction path runs
            if len(pend_d) > 4:
                S._merge_pending(pend_d, acc_d)
                S._merge_pending(pend_f, acc_f)
        S._merge_pending(pend_d, acc_d)
        S._merge_pending(pend_f, acc_f)
        for stream, acc in (("docs", acc_d), ("freqs", acc_f)):
            S._compact_acc(acc)
            for sel, s, ub, counts in S._iter_pattern_groups(acc):
                w = 4 * s
                for i, c in enumerate(counts.tolist()):
                    k = (stream, sel, ub[i * w:i * w + w], s)
                    got[k] = got.get(k, 0) + c
        assert got == oracle


@pytest.mark.parametrize("multi", [False, True])
def test_long_lists_batch_matches_per_list(multi):
    """decode_postings (cross-LIST full-block batching + one BIC lane
    set) must be byte-identical to per-list decode_list_bulk for a
    mixed batch: exact-multiple-of-256 lengths (no tail), tail of 1,
    short-as-possible long lists (n=256), multi-block lists, single- and
    multi-dictionary payloads, freqs with exceptions."""
    from dint_spark.dint.dictionary import MultiDictionary, default_class_map

    rng = np.random.default_rng(777 + int(multi))
    if multi:
        def _rand_dict(maxval, n_per_size=16):
            pats, seen = [], set()
            for s in (16, 8, 4, 2, 1):
                for _ in range(n_per_size):
                    p = (rng.integers(0, maxval, size=s, dtype=np.uint32)
                         .astype("<u4").tobytes())
                    if p not in seen:
                        seen.add(p)
                        pats.append(p)
            return DintDictionary.build(pats)
        dd = fd = MultiDictionary(
            dicts=[_rand_dict(4), _rand_dict(1 << 20)],
            class_map=default_class_map(2))
    else:
        stream = rng.integers(0, 300, size=4096).astype(np.uint32)
        dd = DintDictionary.build(mkpats(stream))
        fd = DintDictionary.build(mkpats(stream))

    sizes = [256, 257, 511, 512, 768, 1024, 1025, 300, 999, 2048,
             256 * 5, 256 * 3 + 1]
    lists = []
    for n in sizes:
        universe = n * int(rng.integers(2, 9))
        docs = np.sort(rng.choice(universe, size=n,
                                  replace=False)).astype(np.int64)
        freqs = rng.integers(1, 70000 if multi else 257,
                             size=n).astype(np.int64)
        payload, bmax, endp, foff = encode_list(docs, freqs, dd, fd,
                                                optimal=True)
        lists.append((docs, freqs, payload, bmax, endp, foff))

    order = rng.permutation(len(lists))
    payloads = [lists[i][2] for i in order]
    ns = np.array([len(lists[i][0]) for i in order])
    bmaxs = [lists[i][3] for i in order]
    endps = [lists[i][4] for i in order]
    foffs = [lists[i][5] for i in order]
    docs_c, freqs_c, offs = decode_postings(
        payloads, ns, bmaxs, endps, foffs, dd, fd)
    for k, i in enumerate(order):
        exp_d, exp_f = lists[i][0], lists[i][1]
        got_d = docs_c[offs[k]:offs[k + 1]]
        got_f = freqs_c[offs[k]:offs[k + 1]]
        ref_d, ref_f = decode_list_bulk(lists[i][2], len(exp_d),
                                        lists[i][3], lists[i][4],
                                        lists[i][5], dd, fd)
        assert np.array_equal(got_d, exp_d) and np.array_equal(got_d, ref_d)
        assert np.array_equal(got_f, exp_f) and np.array_equal(got_f, ref_f)
    # docs-only (lazy freqs) path
    docs_c2, f2, offs2 = decode_postings(
        payloads, ns, bmaxs, endps, foffs, dd, None)
    assert f2 is None and np.array_equal(docs_c2, docs_c)


def test_long_lists_batch_all_exception_path():
    """Empty dictionary => every full-block int is an escape/exception:
    the cross-list batch must still be byte-identical to per-list decode
    (the B14 all-exception path, batch form), including values above
    2^16 (3-slot escapes)."""

    rng = np.random.default_rng(13)
    empty = DintDictionary.build([])
    lists = []
    for n in (256, 300, 512, 700):
        universe = n * 600  # big gaps: many 2- and 3-slot escapes
        docs = np.sort(rng.choice(universe, size=n,
                                  replace=False)).astype(np.int64)
        freqs = rng.integers(1, 90000, size=n).astype(np.int64)
        payload, bmax, endp, foff = encode_list(docs, freqs, empty, empty)
        lists.append((n, docs, freqs, payload, bmax, endp, foff))
    docs_c, freqs_c, offs = decode_postings(
        [l[3] for l in lists], np.array([l[0] for l in lists]),
        [l[4] for l in lists], [l[5] for l in lists],
        [l[6] for l in lists], empty, empty)
    for i, (n, docs, freqs, *_rest) in enumerate(lists):
        assert np.array_equal(docs_c[offs[i]:offs[i + 1]], docs)
        assert np.array_equal(freqs_c[offs[i]:offs[i + 1]], freqs)


def test_long_lists_batch_tiny_tail_routing():
    """A batch with fewer than BIC_LOCKSTEP_MIN_LANES BIC blocks routes
    them through the per-block recursive decoder (the lockstep DFS can't
    amortize there) — byte-identical to per-list decode either way."""
    import numpy as np

    import sys as _sys
    _sys.path.insert(0, "tests")
    from fixtures import build_dicts, gen_collection

    from dint_spark.dint.codec import BLOCK_SIZE, encode_list

    plists, _, _, _ = gen_collection(num_docs=6000, seed=9, vocab=800)
    rows = []
    for t, (docs, freqs) in sorted(plists.items()):
        if len(docs) >= BLOCK_SIZE and len(docs) % BLOCK_SIZE:
            p, bm, ep, fo = encode_list(docs, freqs, *build_dicts(
                {t: (docs, freqs)}))
            rows.append((bytes(p), len(docs), bm, ep, fo, docs, freqs))
        if len(rows) == 3:  # 3 docs + 3 freqs tails -> the recursive path
            break
    assert rows, "fixture produced no tailed long lists"
    dd, fd = build_dicts(plists)
    enc = [(bytes(encode_list(r[5], r[6], dd, fd)[0]),) for r in rows]
    payloads, ns, bml, epl, fol = [], [], [], [], []
    want = []
    for _, n, _, _, _, docs, freqs in rows:
        p, bm, ep, fo = encode_list(docs, freqs, dd, fd)
        payloads.append(bytes(p)); ns.append(n)
        bml.append(bm); epl.append(ep); fol.append(fo)
        want.append((docs, freqs))
    d, f, off = decode_postings(
        payloads, np.array(ns), bml, epl, fol, dd, fd)
    for i, (wd, wf) in enumerate(want):
        assert np.array_equal(d[off[i]:off[i + 1]], wd)
        assert np.array_equal(f[off[i]:off[i + 1]], wf)


@pytest.mark.parametrize("n", [100, 700])
def test_truncated_payload_fails_closed(n):
    """A cut payload raises ValueError: a 1-byte cut must not decode to
    wrong freqs, a cut of a third must not surface as an IndexError —
    on a short (single BIC block) and a multi-block list. A cursor step
    decodes one block alone: a block the cut reaches raises too, a block
    before the cut decodes exactly."""
    rng = np.random.default_rng(n)
    docs = np.sort(rng.choice(20 * n, size=n, replace=False)).astype(np.int64)
    freqs = rng.integers(1, 40, size=n).astype(np.int64)
    gaps = np.diff(docs, prepend=-1) - 1
    dd = DintDictionary.build(mkpats(gaps.astype(np.uint32)))
    fd = DintDictionary.build(mkpats((freqs - 1).astype(np.uint32)))
    payload, bmax, endp, foff = encode_list(docs, freqs, dd, fd)
    ends = list(endp[1:]) + [len(payload)]  # block b's bytes end here
    for cut in (1, len(payload) // 3):
        short = payload[:-cut]
        with pytest.raises(ValueError):
            decode_list_bulk(short, n, bmax, endp, foff, dd, fd)
        for b in range(len(bmax)):
            def one():
                return decode_posting_blocks(*posting_blocks(
                    [short], [n], [bmax], [endp], [foff], blocks=[b]), dd, fd)
            if ends[b] > len(short):
                with pytest.raises(ValueError):
                    one()
                continue
            d, f = one()
            assert np.array_equal(d, docs[b * 256:(b + 1) * 256])
            assert np.array_equal(f, freqs[b * 256:(b + 1) * 256])


def test_truncated_payload_fails_closed_in_batch():
    """The same cut inside a multi-list batch (BIC blocks on the lockstep
    lanes, full blocks on the cross-list codeword pass) raises too, and
    the uncut batch decodes exactly."""
    from dint_spark.dint.codec import (BIC_LOCKSTEP_MIN_LANES,
                                       encode_lists_batch)

    rng = np.random.default_rng(11)
    empty = DintDictionary.build([])
    # two BIC lanes (docs, freqs) per list: enough lists for the lockstep
    sizes = [256, 300, 700] + [3, 40, 100] * (BIC_LOCKSTEP_MIN_LANES // 6 + 1)
    docs = [np.sort(rng.choice(20 * n, size=n, replace=False)).astype(np.int64)
            for n in sizes]
    freqs = [rng.integers(1, 40, size=n).astype(np.int64) for n in sizes]
    enc = encode_lists_batch(docs, freqs, empty, empty)
    payloads = [e[0] for e in enc]
    args = [[e[j] for e in enc] for j in (1, 2, 3)]
    docs_c, freqs_c, offs = decode_postings(payloads, sizes, *args, empty,
                                            empty)
    assert np.array_equal(docs_c, np.concatenate(docs))
    assert np.array_equal(freqs_c, np.concatenate(freqs))
    for i in (0, 1, 2, 3, 4):
        for cut in (1, len(payloads[i]) // 3):
            bad = payloads[:i] + [payloads[i][:-cut]] + payloads[i + 1:]
            with pytest.raises(ValueError):
                decode_postings(bad, sizes, *args, empty, empty)
