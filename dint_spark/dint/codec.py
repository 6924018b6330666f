"""DINT block codec + binary interpolative fallback, numpy-vectorized.

Block/stream layout (semantic parity with the reference, new implementation):

* A posting list of n docIDs is split into ceil(n/256) blocks of 256
  (tail smaller). Docs are delta-gapped ``g[i] = d[i] - d[i-1] - 1`` (the
  first gap is relative to the previous block's last docID + 1, initial
  "previous" is -1); freqs are stored as ``f - 1``.
  (ref: include/dint/dict_posting_list.hpp:31-55)
* A full 256-gap block is a stream of u16 codewords:
    - code 0: 2-byte exception -> next u16 is the literal value
    - code 1: 4-byte exception -> next two u16 are the literal u32 (LE)
    - codes 2..6: runs of 256/128/64/32/16 zeros
    - codes >= 7: dictionary entries (1..16 ints each)
  (ref: include/dint/dint_codecs.hpp:9-50, dint_configuration.hpp)
* Blocks shorter than 256 use binary interpolative coding of the prefix
  sums (ref: include/ds2i/block_codecs.hpp:104-152,
  include/ds2i/interpolative_coding.hpp).

Encoding offers the reference's two parsers: greedy longest-match and the
optimal shortest-path DP over codeword costs (1 per codeword, 2 per small /
3 per large exception) (ref: include/dint/dint_codecs.hpp:52-283).
"""

from __future__ import annotations

import numpy as np

EXCEPTIONS = 2
NUM_RUNS = 5  # runs of 256, 128, 64, 32, 16 zeros -> codes 2..6
RESERVED = EXCEPTIONS + NUM_RUNS  # 7
BLOCK_SIZE = 256
# decode_blocks' one size rule: a BIC lane set smaller than this takes the
# recursive bic_decode, since the lockstep DFS pays ~2*max(m) numpy rounds
# whatever its width. Measured crossover on a 4-core host: the recursion
# wins up to ~1k lanes (14x at 32 lanes), the lockstep from ~1-2k lanes
# (1.5x at 4k)
BIC_LOCKSTEP_MIN_LANES = 1024
MAX_ENTRY_SIZE = 16
NUM_ENTRIES = 65536
TARGET_SIZES = (16, 8, 4, 2, 1)
RUN_LENS = (256, 128, 64, 32, 16)  # code 2 + i decodes RUN_LENS[i] zeros

_U16 = np.dtype("<u2")
_U32 = np.dtype("<u4")


# --------------------------------------------------------------------------
# bit-level primitives for binary interpolative coding (BIC)
# --------------------------------------------------------------------------

class BitWriter:
    """LSB-first bit packer over little-endian u64 words (matches the
    reference's bit_writer so bpi accounting is comparable); each write is
    O(1) (a bigint accumulator would make the k-th write O(k))."""

    __slots__ = ("_words", "_nbits")

    def __init__(self) -> None:
        self._words = [0]
        self._nbits = 0

    def write(self, bits: int, length: int) -> None:
        if length == 0:
            return
        bits &= (1 << length) - 1
        off = self._nbits & 63
        w = self._nbits >> 6
        self._nbits += length
        while len(self._words) <= self._nbits >> 6:
            self._words.append(0)
        self._words[w] |= (bits << off) & 0xFFFFFFFFFFFFFFFF
        if off + length > 64:
            self._words[w + 1] |= bits >> (64 - off)

    def write_int(self, val: int, u: int) -> None:
        """Centered minimal binary code of val in [0, u)."""
        b = u.bit_length() - 1  # msb(u)
        m = (1 << (b + 1)) - u
        if val < m:
            self.write(val, b)
        else:
            val += m
            self.write(val >> 1, b)
            self.write(val & 1, 1)

    def write_interpolative(self, arr, begin: int, n: int,
                            low: int, high: int) -> None:
        """Recursive midpoint-first emission (depth is O(log n) because the
        ranges halve)."""
        if n <= 0 or high == low:
            return  # a pinned range emits zero bits for the whole subtree
        h = n // 2
        val = int(arr[begin + h])
        self.write_int(val - low, high - low + 1)
        self.write_interpolative(arr, begin, h, low, val)
        self.write_interpolative(arr, begin + h + 1, n - h - 1, val, high)

    def getvalue(self) -> bytes:
        nbytes = (self._nbits + 7) // 8
        buf = b"".join(x.to_bytes(8, "little") for x in self._words)
        return buf[:nbytes]


class BitReader:
    """LSB-first reader over little-endian u64 words; each read is O(1)
    (a bigint accumulator would make read k of an n-bit stream O(n))."""

    __slots__ = ("_words", "_pos")

    def __init__(self, data: bytes) -> None:
        pad = (-len(data)) % 8 + 8
        self._words = np.frombuffer(data + b"\x00" * pad, dtype="<u8").tolist()
        self._pos = 0

    def read(self, length: int) -> int:
        if length == 0:
            return 0
        p = self._pos
        w = p >> 6
        off = p & 63
        val = self._words[w] >> off
        if off + length > 64:
            val |= self._words[w + 1] << (64 - off)
        self._pos = p + length
        return val & ((1 << length) - 1)

    def read_int(self, u: int) -> int:
        b = u.bit_length() - 1
        m = (1 << (b + 1)) - u
        val = self.read(b)
        if val >= m:
            val = (val << 1) + self.read(1) - m
        return val

    def read_interpolative(self, out: np.ndarray, begin: int, n: int,
                           low: int, high: int) -> None:
        if n <= 0:
            return
        if high == low:  # subtree collapse: zero bits, constant run
            out[begin:begin + n] = low
            return
        h = n // 2
        val = self.read_int(high - low + 1) + low
        out[begin + h] = val
        self.read_interpolative(out, begin, h, low, val)
        self.read_interpolative(out, begin + h + 1, n - h - 1, val, high)

    def bytes_consumed(self) -> int:
        return (self._pos + 7) // 8


def _vbyte_encode_single(val: int) -> bytes:
    """TightVariableByte: 7 data bits per byte, stop bit (0x80) on last.
    (ref: include/ds2i/block_codecs.hpp:20-60)"""
    out = bytearray()
    while True:
        if val < 0x80:
            out.append(val | 0x80)
            return bytes(out)
        out.append(val & 0x7F)
        val >>= 7


def _vbyte_decode_single(data: bytes, pos: int) -> tuple[int, int]:
    val = 0
    shift = 0
    while True:
        b = data[pos]
        pos += 1
        val |= (b & 0x7F) << shift
        if b & 0x80:
            return val, pos
        shift += 7


def _vbyte_decode_batch(buf: np.ndarray, pos: np.ndarray, lim: np.ndarray
                        ) -> tuple[np.ndarray, np.ndarray]:
    """Decode one TightVariableByte value at each of many positions in one
    lockstep pass (1-2 byte rounds in practice for block sums). Value i
    must end by byte lim[i] and fit 7 bytes (block sums are < 2^40), else
    ValueError. Returns (values, end_positions)."""
    pos = np.asarray(pos, dtype=np.int64)
    vals = np.zeros(len(pos), dtype=np.int64)
    ends = pos.copy()
    live = np.arange(len(pos))
    shift = 0
    while len(live):
        if shift > 42 or (ends[live] >= lim[live]).any():
            raise ValueError("corrupt DINT payload: vbyte sum runs past "
                             "its block")
        b = buf[ends[live]].astype(np.int64)
        vals[live] |= (b & 0x7F) << shift
        ends[live] += 1
        live = live[(b & 0x80) == 0]
        shift += 7
    return vals, ends


def bic_encode(vals: np.ndarray, sum_of_values: int) -> bytes:
    """Interpolative-encode a short block. ``sum_of_values`` is the known
    sum of the values, or -1 when unknown (then it is vbyte-prefixed),
    exactly like interpolative_block::encode."""
    n = len(vals)
    prefix = np.cumsum(vals.astype(np.int64))
    out = bytearray()
    if sum_of_values < 0:
        sum_of_values = int(prefix[-1])
        out += _vbyte_encode_single(sum_of_values)
    bw = BitWriter()
    bw.write_interpolative(prefix, 0, n - 1, 0, sum_of_values)
    out += bw.getvalue()
    return bytes(out)


def bic_decode(data: bytes, pos: int, n: int, sum_of_values: int
               ) -> tuple[np.ndarray, int]:
    if sum_of_values < 0:
        sum_of_values, pos = _vbyte_decode_single(data, pos)
    out = np.empty(n, dtype=np.int64)
    out[n - 1] = sum_of_values
    if n > 1:
        br = BitReader(data[pos:])
        br.read_interpolative(out, 0, n - 1, 0, sum_of_values)
        pos += br.bytes_consumed()
        out[1:] -= out[:-1].copy()
    return out.astype(np.uint32), pos


def bic_decode_batch(buf: np.ndarray, bit_pos: np.ndarray, ns: np.ndarray,
                     sums: np.ndarray, end_bits: np.ndarray) -> np.ndarray:
    """Decode MANY interpolative-coded value blocks in one vectorized pass.

    buf: concatenated little-endian byte buffer (u8, padded with >= 8 zero
    bytes); bit_pos[i]: absolute starting BIT offset of block i's stream;
    ns[i]: value count; sums[i]: known sum (vbyte prefixes already
    consumed by the caller). Returns the concatenated per-block values
    (the gap/f-1 streams, like bic_decode), int64. end_bits[i]: the bit
    where block i's span ends; a block whose reads pass it raises
    ValueError.

    The recursion order of read_interpolative is a preorder DFS whose bit
    offsets are data-dependent, so blocks cannot be decoded level-by-level
    — but every LIST can run its own DFS in lockstep: one explicit stack
    per list, one popped node per list per step, all the bit extraction /
    centered-minimal-binary math vectorized across lists. Per-list decode
    cost drops from ~30us (python recursion) to the amortized cost of a
    few numpy ops (measured ~20x on the bench corpus's short lists).
    """
    L = len(ns)
    ns = np.asarray(ns, dtype=np.int64)
    sums = np.asarray(sums, dtype=np.int64)
    offsets = np.zeros(L + 1, dtype=np.int64)
    np.cumsum(ns, out=offsets[1:])
    out = np.zeros(int(offsets[-1]), dtype=np.int64)
    out[offsets[1:] - 1] = sums  # prefix[n-1] = sum (bic_decode contract)
    base = offsets[:-1]

    # explicit DFS stacks: node = (begin, n, low, high); max depth is
    # 2*ceil(log2(256)) + 2 (ranges halve each level, two pushes per pop)
    maxd = 20
    st = np.zeros((4, L, maxd), dtype=np.int64)
    sp = np.zeros(L, dtype=np.int64)
    init = ns > 1
    ii = np.flatnonzero(init)
    st[0, ii, 0] = 0
    st[1, ii, 0] = ns[ii] - 1
    st[2, ii, 0] = 0
    st[3, ii, 0] = sums[ii]
    sp[ii] = 1
    pos = np.asarray(bit_pos, dtype=np.int64).copy()
    # aligned u64 view for the per-iteration bit reads: two word loads +
    # shift/or replace the previous (L, 8) byte-window gather, which was
    # the measured hot op of the whole lockstep loop (callers pad the
    # buffer by >= 16 zero bytes, so word w+1 is always readable)
    u64 = buf[: (len(buf) // 8) * 8].view(np.uint64)
    last = len(u64) - 1
    stf = st.reshape(4, -1)  # flat (list, depth) view: one gather per pop

    while True:
        idx = np.flatnonzero(sp > 0)
        if not len(idx):
            break
        s = sp[idx] - 1
        begin, n, lo, hi = stf[:, idx * maxd + s]
        sp[idx] = s
        u = hi - lo + 1
        # subtree collapse: u == 1 pins every value in the node to lo and
        # the WHOLE subtree consumes zero bits (each descendant reads a
        # 0-bit integer), so write the n-value run and push nothing —
        # format-identical, but an all-constant lane (e.g. the tf==1
        # freq stream of web text, sum == 0 at the root) resolves in ONE
        # pop instead of 2n
        u1 = u == 1
        if u1.any():
            cnt = n[u1]
            starts = base[idx[u1]] + begin[u1]
            tot = int(cnt.sum())
            off = (np.repeat(starts - (np.cumsum(cnt) - cnt), cnt)
                   + np.arange(tot))
            out[off] = np.repeat(lo[u1], cnt)
            k2 = ~u1
            if not k2.any():
                continue
            idx = idx[k2]
            begin, n, lo, hi, u = (begin[k2], n[k2], lo[k2], hi[k2],
                                   u[k2])
        h = n >> 1
        # b = msb(u): frexp exponent is exact for u < 2^53
        b = (np.frexp(u.astype(np.float64))[1] - 1).astype(np.int64)
        m = (np.int64(1) << (b + 1)) - u
        # read b bits at each list's own cursor: two aligned u64 loads
        # (bits p..p+63 = word[p>>6] >> (p&63) | word[+1] << (64-(p&63)))
        p = pos[idx]
        w = p >> 6
        o = (p & 63).astype(np.uint64)
        # clamp both word loads: a cursor can sit deep in the zero
        # padding (b=0 reads at the tail advance no bits but still
        # gather, and the u64 scheme touches up to 8 bytes past the old
        # byte-window); any read whose NEEDED bits exist lies inside the
        # >=16-byte caller pad, so a clamped word is never consumed
        hi_word = np.where(o == np.uint64(0), np.uint64(0),
                           u64[np.minimum(w + 1, last)]
                           << ((np.uint64(64) - o) & np.uint64(63)))
        win = (u64[np.minimum(w, last)] >> o) | hi_word
        val = win.astype(np.int64) & ((np.int64(1) << b) - 1)
        pos[idx] = p + b
        extra = val >= m  # centered minimal binary: one more bit
        if extra.any():
            e = idx[extra]
            p2 = pos[e]
            byte = buf[np.minimum(p2 >> 3, len(buf) - 1)]
            bit = (byte.astype(np.int64) >> (p2 & 7)) & 1
            val[extra] = (val[extra] << 1) + bit - m[extra]
            pos[e] = p2 + 1
        val = val + lo
        out[base[idx] + begin + h] = val
        # push right child then left so the left subtree pops first
        # (preorder parity with read_interpolative)
        rn = n - h - 1
        rm = rn > 0
        if rm.any():
            r = idx[rm]
            t = sp[r]
            kr = r * maxd + t
            stf[0, kr] = begin[rm] + h[rm] + 1
            stf[1, kr] = rn[rm]
            stf[2, kr] = val[rm]
            stf[3, kr] = hi[rm]
            sp[r] = t + 1
        lm = h > 0
        if lm.any():
            lft = idx[lm]
            t = sp[lft]
            kl = lft * maxd + t
            stf[0, kl] = begin[lm]
            stf[1, kl] = h[lm]
            stf[2, kl] = lo[lm]
            stf[3, kl] = val[lm]
            sp[lft] = t + 1

    if (pos > end_bits).any():
        raise ValueError("corrupt DINT payload: BIC block reads past its "
                         "span")
    # prefix values -> per-block gaps (out[1:] -= out[:-1] within blocks)
    gaps = np.empty_like(out)
    gaps[1:] = out[1:] - out[:-1]
    gaps[base] = out[base]
    return gaps


def bic_encode_batch(vals: np.ndarray, ns: np.ndarray, sums: np.ndarray
                     ) -> list[bytes]:
    """Encode MANY interpolative-coded value blocks in one vectorized pass
    (the encode mirror of bic_decode_batch).

    vals: concatenated per-block value streams (the gap / f-1 streams, like
    bic_encode's input); ns[i]: value count of block i; sums[i]: the KNOWN
    sum of block i's values (callers emit vbyte prefixes for unknown sums
    themselves). Returns per-block payloads, byte-identical to
    ``bic_encode(vals_i, sums_i)``.

    At encode time every prefix sum is known up front, so the preorder DFS
    of write_interpolative is fully determined by the data: run one
    explicit stack per block in lockstep (one popped node per block per
    step, all centered-minimal-binary math vectorized across blocks),
    record (value, nbits) per write plus a per-block running bit cursor,
    then assemble all streams with two bitwise-or scatters into a shared
    little-endian u64 word buffer (each <=33-bit write spans at most two
    words; block regions are byte-aligned and disjoint).
    """
    L = len(ns)
    ns = np.asarray(ns, dtype=np.int64)
    sums = np.asarray(sums, dtype=np.int64)
    vals = np.asarray(vals, dtype=np.int64)
    if L == 0 or len(vals) == 0:
        return [b""] * L
    offsets = np.zeros(L + 1, dtype=np.int64)
    np.cumsum(ns, out=offsets[1:])
    base = np.minimum(offsets[:-1], len(vals) - 1)
    # segmented prefix sums (prefix restarts at each block)
    c = np.cumsum(vals)
    prefix = c - np.repeat(c[base] - vals[base], ns)
    base = offsets[:-1]

    # writes arrive in per-block stream order because each live block pops
    # exactly one node per step
    total_writes = int(np.maximum(ns - 1, 0).sum())
    wl_blk = np.empty(total_writes, dtype=np.int64)
    wl_pos = np.empty(total_writes, dtype=np.int64)
    wl_val = np.empty(total_writes, dtype=np.int64)
    wl_len = np.empty(total_writes, dtype=np.int64)
    cursor = 0
    bitpos = np.zeros(L, dtype=np.int64)

    maxd = 20  # ranges halve per level; two pushes per pop
    st = np.zeros((4, L, maxd), dtype=np.int64)
    sp = np.zeros(L, dtype=np.int64)
    ii = np.flatnonzero(ns > 1)
    st[1, ii, 0] = ns[ii] - 1
    st[3, ii, 0] = sums[ii]
    sp[ii] = 1

    while True:
        idx = np.flatnonzero(sp > 0)
        if not len(idx):
            break
        s = sp[idx] - 1
        begin = st[0, idx, s]
        n = st[1, idx, s]
        lo = st[2, idx, s]
        hi = st[3, idx, s]
        sp[idx] = s
        h = n >> 1
        val = prefix[base[idx] + begin + h]
        u = hi - lo + 1
        b = (np.frexp(u.astype(np.float64))[1] - 1).astype(np.int64)
        m = (np.int64(1) << (b + 1)) - u
        v = val - lo
        # centered minimal binary: v < m -> (v, b) else write (v+m)>>1 in b
        # bits then the low bit (LSB-first stream: the later bit lands at
        # offset b) -> combined ( (v+m)>>1 | ((v+m)&1)<<b , b+1 )
        extra = v >= m
        v2 = v + m
        bits = np.where(extra, (v2 >> 1) | ((v2 & 1) << b), v)
        nbits = b + extra
        k = len(idx)
        wl_blk[cursor: cursor + k] = idx
        wl_pos[cursor: cursor + k] = bitpos[idx]
        wl_val[cursor: cursor + k] = bits
        wl_len[cursor: cursor + k] = nbits
        cursor += k
        bitpos[idx] += nbits
        # push right child then left so the left subtree pops first
        rn = n - h - 1
        rm = rn > 0
        if rm.any():
            r = idx[rm]
            t = sp[r]
            st[0, r, t] = begin[rm] + h[rm] + 1
            st[1, r, t] = rn[rm]
            st[2, r, t] = val[rm]
            st[3, r, t] = hi[rm]
            sp[r] = t + 1
        lm = h > 0
        if lm.any():
            lft = idx[lm]
            t = sp[lft]
            st[0, lft, t] = begin[lm]
            st[1, lft, t] = h[lm]
            st[2, lft, t] = lo[lm]
            st[3, lft, t] = val[lm]
            sp[lft] = t + 1

    byte_lens = (bitpos + 7) >> 3
    byte_starts = np.zeros(L + 1, dtype=np.int64)
    np.cumsum(byte_lens, out=byte_starts[1:])
    total_bytes = int(byte_starts[-1])
    words = np.zeros((total_bytes >> 3) + 2, dtype=np.uint64)
    if total_writes:
        absp = byte_starts[wl_blk] * 8 + wl_pos
        w = absp >> 6
        off = (absp & 63).astype(np.uint64)
        v = wl_val.astype(np.uint64)
        np.bitwise_or.at(words, w, v << off)
        spill = np.flatnonzero(off + wl_len.astype(np.uint64) > 64)
        if len(spill):
            np.bitwise_or.at(words, w[spill] + 1,
                             v[spill] >> (np.uint64(64) - off[spill]))
    buf = words.view(np.uint8)[:total_bytes].tobytes()
    return [buf[byte_starts[i]: byte_starts[i + 1]] for i in range(L)]


# --------------------------------------------------------------------------
# DINT block encode
# --------------------------------------------------------------------------

def _zero_run_lengths(vals: np.ndarray) -> np.ndarray:
    """run[i] = number of consecutive zeros starting at i (0 if vals[i]!=0)."""
    n = len(vals)
    run = np.zeros(n + 1, dtype=np.int64)
    # vectorized: distance to next nonzero
    idx_nonzero = np.flatnonzero(vals != 0)
    boundaries = np.concatenate([idx_nonzero, [n]])
    # for each position, next nonzero at or after it:
    nxt = boundaries[np.searchsorted(boundaries, np.arange(n), side="left")]
    run[:n] = nxt - np.arange(n)
    run[idx_nonzero] = 0
    return run[:n]


def _window_hashes(vals64: np.ndarray, mixed: np.ndarray, s: int, m: int
                   ) -> np.ndarray:
    """fold_hash of every length-s window of vals in O(n + m) (not O(m*s)):
    with W[p] = mix64(v[p]) * R^p and S its wrapping prefix sum,
    hash(window at p) = (S[p+s-1] - S[p-1]) * R^-p, because R is odd and
    therefore invertible mod 2^64. ``mixed`` is the precomputed
    mix64(vals64) (shared across target sizes)."""
    from dint_spark.dint.dictionary import _FOLD_R, _FOLD_RINV

    if s == 2:
        return vals64[:m] | (vals64[1: m + 1] << np.uint64(32))
    n = len(vals64)
    rp = np.empty(n, dtype=np.uint64)
    rp[0] = 1
    np.cumprod(np.full(n - 1, _FOLD_R, dtype=np.uint64), out=rp[1:])
    rip = np.empty(m, dtype=np.uint64)
    rip[0] = 1
    if m > 1:
        np.cumprod(np.full(m - 1, _FOLD_RINV, dtype=np.uint64), out=rip[1:])
    S = np.cumsum(mixed * rp, dtype=np.uint64)
    span = S[s - 1: s - 1 + m].copy()
    span[1:] -= S[: m - 1]
    return span * rip


def _match_codes(vals: np.ndarray, dct, n: int) -> dict[int, np.ndarray]:
    """For each target size s, code of the dictionary pattern equal to
    vals[i:i+s] for every start i (or -1).

    Vectorized: one prefix-sum windowed hash + one searchsorted against the
    dictionary's sorted pattern-hash table resolves all n windows of a size
    at once; only windows whose hash hits a table key are verified exactly
    against the raw pattern (hits are ~true matches — the mixed positional
    hash makes false hits ~2^-64 — so verification is O(matches * s), not
    O(n * s))."""
    from dint_spark.dint.dictionary import mix64

    lookup = dct.lookup_tables()
    vals64 = vals.astype(np.uint64)
    mixed = mix64(vals64)
    out: dict[int, np.ndarray] = {}
    for s in TARGET_SIZES:
        codes = np.full(n, -1, dtype=np.int64)
        m = n - s + 1
        entry = lookup.get(s)
        if m > 0 and entry is not None:
            if entry[0] == "num":
                _, keys, pcodes, mat = entry
                if s == 1:
                    wkeys = vals64[:m]
                else:
                    wkeys = _window_hashes(vals64, mixed, s, m)
                idx = np.searchsorted(keys, wkeys)
                idx2 = np.minimum(idx, len(keys) - 1)
                hit = keys[idx2] == wkeys
                if s > 2 and hit.any():
                    # exact verification of the hits only
                    hp = np.flatnonzero(hit)
                    cand = mat[idx2[hp]]
                    ok = np.ones(len(hp), dtype=bool)
                    for j in range(s):
                        ok &= cand[:, j] == vals[hp + j]
                    hit[hp] = ok
                codes[:m][hit] = pcodes[idx2[hit]]
            else:
                _, pats, pcodes = entry
                win = np.lib.stride_tricks.sliding_window_view(vals, s)
                blobs = np.ascontiguousarray(win).view(
                    np.dtype((np.void, 4 * s))).ravel()
                idx = np.searchsorted(pats, blobs)
                idx2 = np.minimum(idx, len(pats) - 1)
                hit = pats[idx2] == blobs
                codes[:m][hit] = pcodes[idx2[hit]]
        out[s] = codes
    return out


def encode_block_dint(vals: np.ndarray, dct,
                      optimal: bool = True) -> bytes:
    """Encode one full 256-int block (or, per reference semantics, any
    length when used for tails of pattern matching) as a u16 codeword
    stream. ``dct`` is a DintDictionary (its sorted lookup tables drive the
    vectorized window matcher; its encode_map serves tail lookups)."""
    n = len(vals)
    vals = np.ascontiguousarray(vals, dtype=_U32)
    runs = _zero_run_lengths(vals)
    matches = _match_codes(vals, dct, n)
    raw = vals.tobytes()
    encode_map = dct.encode_map

    if not optimal:
        return _greedy_parse(vals, runs, matches, encode_map, raw, n)
    return _optimal_parse(vals, runs, matches, encode_map, raw, n)


def _emit_codeword(out: bytearray, code: int) -> None:
    out += int(code).to_bytes(2, "little")


def _emit_exception(out: bytearray, val: int) -> None:
    if val < 65536:
        out += b"\x00\x00"
        out += int(val).to_bytes(2, "little")
    else:
        out += b"\x01\x00"
        out += int(val).to_bytes(4, "little")


def _greedy_parse(vals, runs, matches, encode_map, raw, n) -> bytes:
    out = bytearray()
    pos = 0
    while pos < n:
        rl = runs[pos]
        if rl >= 16:
            k = 256
            code = EXCEPTIONS
            while rl < k and k > 16:
                code += 1
                k //= 2
            _emit_codeword(out, code)
            pos += k
            continue
        emitted = False
        for s in TARGET_SIZES:
            length = min(s, n - pos)
            if length == s:
                code = matches[s][pos]
            else:
                code = encode_map.get(raw[4 * pos: 4 * (pos + length)], -1)
            if code >= 0:
                _emit_codeword(out, code)
                pos += length
                emitted = True
                break
        if not emitted:
            _emit_exception(out, int(vals[pos]))
            pos += 1
    return bytes(out)


def _optimal_parse(vals, runs, matches, encode_map, raw, n) -> bytes:
    """Shortest-path DP: cost 1 per codeword, 2 per small exception, 3 per
    large (u16 units). (ref: include/dint/dint_codecs.hpp:141-255)"""
    INF = 1 << 60
    cost = [INF] * (n + 1)
    parent = [0] * (n + 1)
    codeword = [-1] * (n + 1)
    cost[0] = 0

    match_lists = [(s, matches[s].tolist()) for s in TARGET_SIZES]
    runs_l = runs.tolist()
    vals_l = vals.tolist()

    for i in range(n):
        ci = cost[i]
        if ci >= INF:
            continue
        rl = runs_l[i]
        if rl >= 16:
            k = 256
            code = EXCEPTIONS
            while rl < k and k > 16:
                k //= 2
                code += 1
            while k >= 16:
                j = i + k
                if j <= n and cost[j] > ci + 1:
                    cost[j] = ci + 1
                    parent[j] = i
                    codeword[j] = code
                k //= 2
                code += 1
        rem = n - i
        for s, ms in match_lists:
            if s <= rem:
                code = ms[i]
                length = s
            else:
                length = rem
                code = encode_map.get(raw[4 * i: 4 * (i + length)], -1)
            if code >= 0:
                j = i + length
                if cost[j] > ci + 1:
                    cost[j] = ci + 1
                    parent[j] = i
                    codeword[j] = code
            elif s == 1:
                v = vals_l[i]
                c = ci + (3 if v >= 65536 else 2)
                if cost[i + 1] > c:
                    cost[i + 1] = c
                    parent[i + 1] = i
                    codeword[i + 1] = 1 if v >= 65536 else 0

    # backtrack
    path = []
    i = n
    while i != 0:
        path.append((parent[i], codeword[i]))
        i = parent[i]
    path.reverse()

    out = bytearray()
    for start, code in path:
        if code > 1:
            _emit_codeword(out, int(code))
        else:
            _emit_exception(out, int(vals[start]))
    return bytes(out)


def _match_codes_2d(vals2d: np.ndarray, dct) -> dict[int, np.ndarray]:
    """_match_codes across MANY blocks at once: one searchsorted per target
    size over the concatenation of all rows (windows that straddle a row
    boundary are masked out). Returns codes[s] shaped like vals2d."""
    nb, w = vals2d.shape
    flat = np.ascontiguousarray(vals2d, dtype=_U32).ravel()
    m = _match_codes(flat, dct, nb * w)
    out: dict[int, np.ndarray] = {}
    for s in TARGET_SIZES:
        codes = m[s].reshape(nb, w)
        if s > 1:
            codes[:, w - s + 1:] = -1
        out[s] = codes
    return out


def _zero_run_lengths_2d(vals2d: np.ndarray) -> np.ndarray:
    """Per-row _zero_run_lengths, vectorized across rows (one reverse sweep
    over the columns)."""
    nb, w = vals2d.shape
    run = np.zeros((nb, w), dtype=np.int64)
    zero = vals2d == 0
    run[:, w - 1] = zero[:, w - 1]
    for i in range(w - 2, -1, -1):
        run[:, i] = np.where(zero[:, i], run[:, i + 1] + 1, 0)
    return run


def _optimal_parse_batch(vals2d: np.ndarray, matches: dict[int, np.ndarray]
                         ) -> tuple[np.ndarray, np.ndarray]:
    """The _optimal_parse shortest-path DP run in lockstep across many
    equal-length blocks: position loop stays sequential (256 steps), every
    relaxation is vectorized across blocks. Relaxation order within a step
    matches the sequential parser exactly (runs largest-first, then target
    sizes descending, then the exception arc; strict > comparisons), so
    parent/codeword tables — and therefore the emitted bytes — are
    identical. Returns (parent, codeword) int64 arrays of shape
    (num_blocks, n+1)."""
    nb, n = vals2d.shape
    INF = 1 << 30
    cost = np.full((nb, n + 1), INF, dtype=np.int64)
    cost[:, 0] = 0
    parent = np.zeros((nb, n + 1), dtype=np.int64)
    codeword = np.full((nb, n + 1), -1, dtype=np.int64)
    runs = _zero_run_lengths_2d(vals2d)
    big = vals2d >= 65536

    for i in range(n):
        ci = cost[:, i]
        rl = runs[:, i]
        if int(rl.max(initial=0)) >= 16:
            for ki, k in enumerate(RUN_LENS):
                if i + k <= n:
                    nc = ci + 1
                    upd = (rl >= k) & (cost[:, i + k] > nc)
                    if upd.any():
                        cost[upd, i + k] = nc[upd]
                        parent[upd, i + k] = i
                        codeword[upd, i + k] = EXCEPTIONS + ki
        for s in TARGET_SIZES:
            if i + s <= n:
                cd = matches[s][:, i]
                nc = ci + 1
                upd = (cd >= 0) & (cost[:, i + s] > nc)
                if upd.any():
                    cost[upd, i + s] = nc[upd]
                    parent[upd, i + s] = i
                    codeword[upd, i + s] = cd[upd]
        # exception arc where no size-1 pattern matched
        nc = ci + np.where(big[:, i], 3, 2)
        upd = (matches[1][:, i] < 0) & (cost[:, i + 1] > nc)
        if upd.any():
            cost[upd, i + 1] = nc[upd]
            parent[upd, i + 1] = i
            codeword[upd, i + 1] = np.where(big[upd, i], 1, 0)
    return parent, codeword


def _emit_batch(vals2d: np.ndarray, parent: np.ndarray, codeword: np.ndarray
                ) -> list[bytes]:
    """Emit the codeword streams for many parsed blocks at once.

    Backtracks every block's shortest path in lockstep (one parent-gather
    per step instead of a python pointer chase per block), converts path
    entries to u16 slot widths (1 per codeword, 2/3 per small/large
    exception), places entries by suffix-cumsum (so the reversed walk
    needs no per-block reversal), and scatters codes + exception literals
    into one shared u16 buffer. Byte-identical to the sequential
    backtrack-and-emit."""
    nb, n1 = parent.shape
    n = n1 - 1
    rows = np.arange(nb)
    # lockstep backtrack: entry j of block r is the j-th path element from
    # the END (reversed order)
    starts = np.full((nb, n), -1, dtype=np.int64)
    codes = np.empty((nb, n), dtype=np.int64)
    i = np.full(nb, n, dtype=np.int64)
    j = 0
    live = rows
    while len(live):
        p = parent[live, i[live]]
        codes[live, j] = codeword[live, i[live]]
        starts[live, j] = p
        i[live] = p
        live = live[p > 0]
        j += 1
    maxlen = j
    starts = starts[:, :maxlen]
    codes = codes[:, :maxlen]
    valid = starts >= 0

    widths = np.where(codes > 1, 1, np.where(codes == 1, 3, 2))
    widths[~valid] = 0
    csr = np.cumsum(widths, axis=1)
    totals = csr[:, -1]
    bases = np.zeros(nb + 1, dtype=np.int64)
    np.cumsum(totals, out=bases[1:])
    # forward u16 slot of reversed entry j: base + total - suffix_cumsum
    offs = (bases[:-1] + totals)[:, None] - csr

    buf = np.zeros(int(bases[-1]), dtype=np.uint16)
    flat_off = offs[valid]
    flat_code = codes[valid]
    flat_start = starts[valid]
    flat_row = np.broadcast_to(rows[:, None], starts.shape)[valid]

    cw = flat_code > 1
    buf[flat_off[cw]] = flat_code[cw]
    exc = ~cw
    if exc.any():
        vals = vals2d[flat_row[exc], flat_start[exc]].astype(np.uint32)
        eo = flat_off[exc]
        ec = flat_code[exc]
        buf[eo] = ec.astype(np.uint16)  # 0 or 1 marker
        small = ec == 0
        buf[eo[small] + 1] = vals[small].astype(np.uint16)
        large = ~small
        if large.any():
            buf[eo[large] + 1] = (vals[large] & 0xFFFF).astype(np.uint16)
            buf[eo[large] + 2] = (vals[large] >> 16).astype(np.uint16)

    raw = buf.tobytes()
    return [raw[2 * bases[r]: 2 * bases[r + 1]] for r in range(nb)]


def encode_blocks_dint_batch(vals2d: np.ndarray, dct, optimal: bool = True,
                             chunk: int = 1024) -> list[bytes]:
    """Encode many equal-length full blocks against one dictionary;
    byte-identical to per-block encode_block_dint. ``chunk`` bounds the
    transient window-hash arrays (~w*chunk*31 u64)."""
    nb, n = vals2d.shape
    vals2d = np.ascontiguousarray(vals2d, dtype=_U32)
    if not optimal:
        return [encode_block_dint(vals2d[r], dct, optimal=False)
                for r in range(nb)]
    out: list[bytes] = []
    for lo in range(0, nb, chunk):
        sub = vals2d[lo: lo + chunk]
        matches = _match_codes_2d(sub, dct)
        parent, codeword = _optimal_parse_batch(sub, matches)
        out.extend(_emit_batch(sub, parent, codeword))
    return out


def encode_full_blocks_batch(vals2d: np.ndarray, dct,
                             optimal: bool = True) -> list[bytes]:
    """Batch counterpart of DintDictionary/MultiDictionary
    .encode_full_block: multi-dict streams get the per-block best dict
    (fewest bytes, lowest index on ties — same rule as the sequential
    encoder) plus the 1-byte selector prefix."""
    dicts = getattr(dct, "dicts", None)
    if dicts is None:
        return encode_blocks_dint_batch(vals2d, dct, optimal=optimal)
    per = [encode_blocks_dint_batch(vals2d, d, optimal=optimal)
           for d in dicts]
    out = []
    for r in range(len(vals2d)):
        best_i = min(range(len(dicts)), key=lambda i: len(per[i][r]))
        out.append(bytes([best_i]) + per[best_i][r])
    return out


# --------------------------------------------------------------------------
# DINT block decode (vectorized gather over the rectangular dict layout)
# --------------------------------------------------------------------------

def _decode_codes(codes: np.ndarray, n: int, table2d: np.ndarray,
                  sizes: np.ndarray, block_slots: np.ndarray | None = None
                  ) -> tuple[np.ndarray, int]:
    """Decode exactly n ints from an array of u16 codeword slots; returns
    (values, slots_consumed). ``block_slots`` marks the slots as whole
    full blocks back to back (cumulative slot ends): each must decode to
    exactly BLOCK_SIZE ints with no exception reaching past its last slot,
    else ValueError.

    Two passes: (1) a Python scan over only the *flagged* slots (code < 2)
    resolves which are real exception codes vs. literal value slots that
    happen to look like one — O(#exceptions), the only sequential part;
    (2) one vectorized batch over the whole stream: per-slot output widths,
    cumulative offsets, a single dictionary gather/scatter, and a single
    scatter of exception literals. Zero-run codewords decode to zeros and
    need no write.
    """
    codes = codes.astype(np.int64, copy=False)
    nslots = len(codes)
    flagged = np.flatnonzero(codes < EXCEPTIONS)

    out_w = sizes[codes]
    real = widths = None
    if len(flagged):
        nf = len(flagged)
        real_l = np.empty(nf, dtype=np.int64)
        width_l = np.empty(nf, dtype=np.int64)
        nreal = 0
        i = 0
        fl = flagged.tolist()
        cl = codes  # numpy is fine for scalar reads here
        while i < nf:
            p = fl[i]
            w = 3 if cl[p] == 1 else 2
            real_l[nreal] = p
            width_l[nreal] = w
            nreal += 1
            end = p + w
            i += 1
            while i < nf and fl[i] < end:
                i += 1
        real = real_l[:nreal]
        widths = width_l[:nreal]
        out_w = out_w.copy()
        out_w[real] = 1
        vs = real + 1
        out_w[vs[vs < nslots]] = 0
        big = real[widths == 3] + 2
        out_w[big[big < nslots]] = 0
    cum = np.cumsum(out_w)
    if block_slots is not None:
        spill = (real is not None and len(real) and (
            real + widths
            > block_slots[np.searchsorted(block_slots, real, "right")]).any())
        if spill or (np.concatenate(([0], cum))[block_slots] != BLOCK_SIZE
                     * np.arange(1, len(block_slots) + 1)).any():
            raise ValueError("corrupt DINT payload: a full block's "
                             "codewords do not decode to BLOCK_SIZE ints")

    k = int(np.searchsorted(cum, n, side="left")) + 1
    k = min(k, nslots)
    total_out = int(cum[k - 1]) if k else 0
    offs = cum - out_w  # output start offset per slot

    out = np.zeros(max(total_out, n) + MAX_ENTRY_SIZE, dtype=np.uint32)
    cw_mask = (out_w[:k] > 0) & (codes[:k] >= RESERVED)
    cw = np.flatnonzero(cw_mask)
    if len(cw):
        # grouped by entry size: each group is ONE contiguous (len, s)
        # row-gather + ONE scatter — vs the old 16-wide masked form,
        # whose (k, 16) gather + boolean compress + int64 flat index
        # moved ~3x the bytes per decoded int (round-5 decode item)
        dsz = out_w[cw]
        for s in np.unique(dsz):
            sel = cw[dsz == s]
            s = int(s)
            if s == 1:
                out[offs[sel]] = table2d[codes[sel], 0]
            else:
                idx2 = offs[sel][:, None] + np.arange(s)
                out[idx2.reshape(-1)] = table2d[codes[sel], :s].ravel()

    slots = k
    if real is not None:
        inb = real < k
        rr = real[inb]
        ww = widths[inb]
        small = rr[ww == 2]
        large = rr[ww == 3]
        out[offs[small]] = codes[small + 1]
        if len(large):
            out[offs[large]] = (codes[large + 1]
                                | (codes[large + 2] << 16)).astype(np.uint32)
        # a trailing exception consumes its value slots too
        if len(rr) and rr[-1] == k - 1:
            slots = int(rr[-1] + ww[-1])

    return out[:n], slots


def decode_block_dint(data: bytes, pos: int, n: int, table2d: np.ndarray,
                      sizes: np.ndarray) -> tuple[np.ndarray, int]:
    """Decode n ints from a u16 codeword stream starting at byte ``pos``."""
    # upper bound on u16 slots: every int could be a large exception (3 slots)
    max_slots = min((len(data) - pos) // 2, 3 * n + 4)
    codes = np.frombuffer(data, dtype=_U16, count=max_slots, offset=pos)
    vals, slot = _decode_codes(codes, n, table2d, sizes)
    return vals, pos + 2 * slot


def encode_block(vals: np.ndarray, sum_of_values: int, dct,
                 optimal: bool = True) -> bytes:
    """Reference Coder::encode semantics: blocks shorter than 256 use BIC.
    ``dct`` is a DintDictionary or MultiDictionary (multi prepends a 1-byte
    per-block dictionary selector, ref include/dint/dint_codecs.hpp:410-432)."""
    if len(vals) < BLOCK_SIZE:
        return bic_encode(np.asarray(vals, dtype=np.uint32), sum_of_values)
    return dct.encode_full_block(np.asarray(vals, dtype=np.uint32),
                                 optimal=optimal)


def decode_block(data: bytes, pos: int, n: int, sum_of_values: int, dct
                 ) -> tuple[np.ndarray, int]:
    if n < BLOCK_SIZE:
        return bic_decode(data, pos, n, sum_of_values)
    return dct.decode_full_block(data, pos, n)


# --------------------------------------------------------------------------
# posting-list level encode/decode
# --------------------------------------------------------------------------

def _check_u32_domain(docs: np.ndarray, freqs: np.ndarray, n: int) -> None:
    # DINT is a u32 codec (ref uses u32 docIDs/freqs throughout). At
    # 10^12-doc scale docids are sharded: each segment shard stores dense
    # shard-local u32 ids + a base offset. Guard against silent wraparound.
    if n and (int(docs[0]) < 0 or int(docs[-1]) > 0xFFFFFFFF
              or int(freqs.max(initial=1)) > 0x100000000
              or int(freqs.min(initial=1)) < 1):
        raise ValueError("posting list exceeds the u32 codec domain "
                         "(docid gaps, freqs >= 2^32, or freqs < 1 — the "
                         "f-1 transform would wrap); shard the docid "
                         "space (see README 'Scale design')")


def _bic_encode_groups(blocks: list[np.ndarray], sums: list[int],
                       win: int = 8192) -> list[bytes]:
    """bic_encode_batch over heterogeneous blocks: contiguous windows,
    size-classed within each window (the lockstep step count is max(n)
    of the batch, so one long tail would make every step past the typical
    n pure overhead)."""
    L = len(blocks)
    out: list[bytes] = [b""] * L
    if not L:
        return out
    ns = np.fromiter((len(b) for b in blocks), dtype=np.int64, count=L)
    sums_a = np.asarray(sums, dtype=np.int64)
    idx_all = np.arange(L)
    for s0 in range(0, L, win):
        sub = idx_all[s0: s0 + win]
        order = sub[np.argsort(ns[sub], kind="stable")]
        for cls in (order[ns[order] <= 32], order[ns[order] > 32]):
            if not len(cls):
                continue
            cat = np.concatenate([blocks[int(i)] for i in cls])
            pays = bic_encode_batch(cat, ns[cls], sums_a[cls])
            for j, i in enumerate(cls):
                out[int(i)] = pays[j]
    return out


def encode_lists_batch(docs_lists: list[np.ndarray],
                       freqs_lists: list[np.ndarray],
                       docs_dict, freqs_dict, optimal: bool = True
                       ) -> list[tuple[bytes, np.ndarray, np.ndarray,
                                       np.ndarray]]:
    """Encode MANY posting lists in one batched pass; per list the result
    tuple (payload, block_maxs, endpoints, freq_offsets) is byte-identical
    to encode_list.

    This is the encode mirror of the bulk decode path: all BIC-coded
    blocks (short lists + tails) across every list go through one lockstep
    bic_encode_batch, and all full 256-int blocks go through the
    block-batched DINT encoder (one window-hash searchsorted + one
    lockstep shortest-path DP per ~1k blocks) instead of per-list python
    recursion/DP — the two hot spots of the encode profile (~44% + ~42%).
    """
    plans = []
    dint_docs_rows: list[np.ndarray] = []
    dint_freqs_rows: list[np.ndarray] = []
    bic_blocks: list[np.ndarray] = []
    bic_sums: list[int] = []

    for docs, freqs in zip(docs_lists, freqs_lists):
        docs = np.asarray(docs, dtype=np.int64)
        freqs = np.asarray(freqs, dtype=np.int64)
        n = len(docs)
        _check_u32_domain(docs, freqs, n)
        gaps = np.diff(docs, prepend=-1) - 1
        fm1 = freqs - 1
        nblocks = (n + BLOCK_SIZE - 1) // BLOCK_SIZE
        plan = []
        for b in range(nblocks):
            lo = b * BLOCK_SIZE
            hi = min(lo + BLOCK_SIZE, n)
            if hi - lo == BLOCK_SIZE:
                plan.append((len(dint_docs_rows),))
                dint_docs_rows.append(gaps[lo:hi])
                dint_freqs_rows.append(fm1[lo:hi])
            else:
                di = len(bic_blocks)
                bic_blocks.append(gaps[lo:hi])
                bic_sums.append(int(gaps[lo:hi].sum()))
                fsum = int(fm1[lo:hi].sum())
                bic_blocks.append(fm1[lo:hi])
                bic_sums.append(fsum)
                plan.append((di, fsum))
        plans.append((plan, docs, n))

    if dint_docs_rows:
        mat_d = np.ascontiguousarray(np.vstack(dint_docs_rows), dtype=_U32)
        mat_f = np.ascontiguousarray(np.vstack(dint_freqs_rows), dtype=_U32)
        dd = encode_full_blocks_batch(mat_d, docs_dict, optimal=optimal)
        df = encode_full_blocks_batch(mat_f, freqs_dict, optimal=optimal)
    else:
        dd = df = []
    bp = _bic_encode_groups(bic_blocks, bic_sums)

    out = []
    for plan, docs, n in plans:
        parts: list[bytes] = []
        nblocks = len(plan)
        endpoints = np.empty(nblocks, dtype=np.int64)
        freq_offsets = np.empty(nblocks, dtype=np.int64)
        block_maxs = np.empty(nblocks, dtype=np.int64)
        pos = 0
        for b, desc in enumerate(plan):
            endpoints[b] = pos
            if len(desc) == 1:
                r = desc[0]
                parts.append(dd[r])
                pos += len(dd[r])
                freq_offsets[b] = pos
                parts.append(df[r])
                pos += len(df[r])
            else:
                di, fsum = desc
                parts.append(bp[di])
                pos += len(bp[di])
                freq_offsets[b] = pos
                vb = _vbyte_encode_single(fsum)
                parts.append(vb)
                parts.append(bp[di + 1])
                pos += len(vb) + len(bp[di + 1])
            block_maxs[b] = int(docs[min((b + 1) * BLOCK_SIZE, n) - 1])
        out.append((b"".join(parts), block_maxs, endpoints, freq_offsets))
    return out


def encode_list(docs: np.ndarray, freqs: np.ndarray, docs_dict, freqs_dict,
                optimal: bool = True
                ) -> tuple[bytes, np.ndarray, np.ndarray, np.ndarray]:
    """Encode one posting list.

    Returns (payload, block_maxs, endpoints, freq_offsets) where endpoints[b]
    is the byte offset of block b's docs stream in payload and freq_offsets[b]
    the offset of its freqs stream (enables lazy frequency decoding, ref
    dict_posting_list.hpp:164-169,311-318).
    (ref layout: include/dint/dict_posting_list.hpp:10-56)
    """
    n = len(docs)
    docs = np.asarray(docs, dtype=np.int64)
    freqs = np.asarray(freqs, dtype=np.int64)
    _check_u32_domain(docs, freqs, n)
    nblocks = (n + BLOCK_SIZE - 1) // BLOCK_SIZE
    payload = bytearray()
    block_maxs = np.empty(nblocks, dtype=np.int64)
    endpoints = np.empty(nblocks, dtype=np.int64)
    freq_offsets = np.empty(nblocks, dtype=np.int64)

    prev = -1
    for b in range(nblocks):
        lo = b * BLOCK_SIZE
        hi = min(lo + BLOCK_SIZE, n)
        block_docs = docs[lo:hi]
        gaps = np.diff(block_docs, prepend=prev) - 1
        last = int(block_docs[-1])
        block_base = prev + 1
        gaps_universe = last - block_base - (hi - lo - 1)  # sum of gaps
        endpoints[b] = len(payload)
        payload += encode_block(gaps.astype(np.uint32), gaps_universe,
                                docs_dict, optimal=optimal)
        freq_offsets[b] = len(payload)
        payload += encode_block((freqs[lo:hi] - 1).astype(np.uint32), -1,
                                freqs_dict, optimal=optimal)
        block_maxs[b] = last
        prev = last

    return bytes(payload), block_maxs, endpoints, freq_offsets


# --------------------------------------------------------------------------
# generic non-negative value streams (positions, or any auxiliary stream)
# --------------------------------------------------------------------------

def positions_to_gaps(pos_flat: np.ndarray, freqs: np.ndarray) -> np.ndarray:
    """Per-doc gap transform of a flat positions stream.

    ``pos_flat`` concatenates each doc's strictly-increasing term positions
    in docid order; ``freqs`` gives the per-doc counts (the doc cuts).
    Within a doc the transform is [p0, p1-p0-1, ..., p_t-p_{t-1}-1] — the
    same d[i]-d[i-1]-1 gap law as docids (ref dict_posting_list.hpp:35-40)
    but restarting at every doc boundary, so the stream stays blockwise
    codec-friendly without storing boundaries (freqs already encode them).
    Fully vectorized: one diff + a scatter at the doc-start offsets."""
    pos_flat = np.asarray(pos_flat, dtype=np.int64)
    freqs = np.asarray(freqs, dtype=np.int64)
    n = len(pos_flat)
    if n == 0:
        return pos_flat
    vals = np.empty(n, dtype=np.int64)
    vals[1:] = pos_flat[1:] - pos_flat[:-1] - 1
    starts = np.concatenate([[0], np.cumsum(freqs)[:-1]])
    vals[starts] = pos_flat[starts]
    if vals.min() < 0 or int(pos_flat.max(initial=0)) > 0xFFFFFFFF:
        raise ValueError("positions not strictly increasing per doc, or "
                         "beyond the u32 codec domain")
    return vals


def gaps_to_positions(vals: np.ndarray, freqs: np.ndarray) -> np.ndarray:
    """Inverse of positions_to_gaps: cumsum with resets at doc boundaries,
    vectorized (no per-doc loop): p_j = (C[s+j] - C[s-1]) + j for a doc
    starting at stream offset s, where C is the global cumsum of vals+0."""
    vals = np.asarray(vals, dtype=np.int64)
    freqs = np.asarray(freqs, dtype=np.int64)
    n = len(vals)
    if n == 0:
        return vals
    c = np.cumsum(vals)
    starts = np.concatenate([[0], np.cumsum(freqs)[:-1]])
    base = np.where(starts > 0, c[np.maximum(starts - 1, 0)], 0)
    within = np.arange(n) - np.repeat(starts, freqs)
    return c - np.repeat(base, freqs) + within


def encode_value_streams_batch(streams: list[np.ndarray], dct,
                               optimal: bool = True
                               ) -> list[tuple[bytes, np.ndarray]]:
    """Encode MANY non-negative u32 value streams (e.g. per-list position
    gaps) into the freqs-stream block layout: 256-value blocks DINT-coded,
    the tail block as vbyte(sum) + BIC — exactly the layout decode_block
    (sum=-1) reads back. Returns per stream (payload, endpoints) where
    endpoints[b] is block b's byte offset. Batched like encode_lists_batch:
    all full blocks share one lockstep DP parse, all tails one lockstep BIC
    encode."""
    plans = []
    dint_rows: list[np.ndarray] = []
    bic_blocks: list[np.ndarray] = []
    bic_sums: list[int] = []
    for vals in streams:
        vals = np.asarray(vals, dtype=np.int64)
        n = len(vals)
        if n and (int(vals.min()) < 0 or int(vals.max()) > 0xFFFFFFFF):
            raise ValueError("value stream outside the u32 codec domain")
        nblocks = (n + BLOCK_SIZE - 1) // BLOCK_SIZE
        plan = []
        for b in range(nblocks):
            lo = b * BLOCK_SIZE
            hi = min(lo + BLOCK_SIZE, n)
            if hi - lo == BLOCK_SIZE:
                plan.append((len(dint_rows),))
                dint_rows.append(vals[lo:hi])
            else:
                vsum = int(vals[lo:hi].sum())
                plan.append((len(bic_blocks), vsum))
                bic_blocks.append(vals[lo:hi])
                bic_sums.append(vsum)
        plans.append(plan)

    if dint_rows:
        mat = np.ascontiguousarray(np.vstack(dint_rows), dtype=_U32)
        dd = encode_full_blocks_batch(mat, dct, optimal=optimal)
    else:
        dd = []
    bp = _bic_encode_groups(bic_blocks, bic_sums)

    out = []
    for plan in plans:
        parts: list[bytes] = []
        endpoints = np.empty(len(plan), dtype=np.int64)
        pos = 0
        for b, desc in enumerate(plan):
            endpoints[b] = pos
            if len(desc) == 1:
                parts.append(dd[desc[0]])
                pos += len(dd[desc[0]])
            else:
                di, vsum = desc
                vb = _vbyte_encode_single(vsum)
                parts.append(vb)
                parts.append(bp[di])
                pos += len(vb) + len(bp[di])
        out.append((b"".join(parts), endpoints))
    return out


# --------------------------------------------------------------------------
# the block decoder: one batch of block descriptors, every consumer
# --------------------------------------------------------------------------

def _corrupt(what: str) -> ValueError:
    return ValueError(f"corrupt DINT payload: {what}")


def _decode_full_blocks(arr: np.ndarray, starts: np.ndarray,
                        ends: np.ndarray, dct, out: np.ndarray,
                        offs: np.ndarray) -> None:
    """Full blocks of one dictionary: one _decode_codes pass over their
    concatenated codeword spans [starts, ends), block j written to
    out[offs[j]:offs[j] + BLOCK_SIZE]."""
    lens = ends - starts
    if (lens & 1).any():
        raise _corrupt("odd-length codeword span")
    cum = lens.cumsum()
    idx = np.arange(int(cum[-1]), dtype=np.int64)
    idx += np.repeat(starts - (cum - lens), lens)
    vals, _ = _decode_codes(arr[idx].view(_U16), BLOCK_SIZE * len(starts),
                            dct.table2d, dct.sizes, block_slots=cum >> 1)
    if offs[-1] - offs[0] == BLOCK_SIZE * (len(offs) - 1):  # contiguous
        out[offs[0]:offs[0] + len(vals)] = vals
    else:
        out[(offs[:, None] + np.arange(BLOCK_SIZE)).ravel()] = vals


def _bic_block(buf: bytes, n: int, p: int, e: int, t: int) -> np.ndarray:
    """One BIC block of n values in buf[p:e] (t its known sum, or -1 when
    a vbyte sum prefixes it) through the recursive bic_decode, its reads
    checked against the span."""
    if not 0 <= p <= e <= len(buf):
        raise _corrupt("block span outside the payload")
    data = buf[p:e]
    try:
        q = 0
        if t < 0:
            t, q = _vbyte_decode_single(data, 0)
        if t >= 1 << 48:
            raise _corrupt("BIC block sum out of range")
        vals, used = bic_decode(data, q, n, t)
    except IndexError:  # ran off the span's padded copy
        used = e - p + 1
    if used > e - p:
        raise _corrupt("BIC block reads past its span")
    return vals


def _full_block(buf: bytes, p: int, e: int, dct) -> np.ndarray:
    """One full block: the u16 codewords in buf[p:e] (after a 1-byte
    selector for a MultiDictionary) through _decode_codes, which must
    use exactly the span."""
    if not 0 <= p < e <= len(buf):
        raise _corrupt("block span outside the payload")
    subs = getattr(dct, "dicts", None)
    if subs is not None:
        if buf[p] >= len(subs):
            raise _corrupt("dictionary selector out of range")
        dct = subs[buf[p]]
        p += 1
    if (e - p) & 1:
        raise _corrupt("odd-length codeword span")
    slots = (e - p) >> 1
    vals, _ = _decode_codes(np.frombuffer(buf, _U16, slots, p), BLOCK_SIZE,
                            dct.table2d, dct.sizes,
                            block_slots=np.array([slots]))
    return vals


def _decode_bic_blocks(buf: bytes, out: np.ndarray, offs: np.ndarray,
                       m: np.ndarray, start: np.ndarray, end: np.ndarray,
                       total: np.ndarray) -> None:
    """The BIC blocks of a decode_blocks call, every stream's, as one lane
    set: block i of stream s decodes into out[s, offs[i]:offs[i] + m[i]].
    A set too small to amortize the lockstep rounds takes the recursive
    bic_decode block by block."""
    S = len(out)
    if S * len(m) < BIC_LOCKSTEP_MIN_LANES:
        for s in range(S):
            for o, n, p, e, t in zip(offs.tolist(), m.tolist(),
                                     start[s].tolist(), end[s].tolist(),
                                     total[s].tolist()):
                out[s, o:o + n] = _bic_block(buf, n, p, e, t)
        return
    start, end, sums = start.ravel(), end.ravel(), total.ravel()
    if (((end - start) | start | (len(buf) - end)) < 0).any():
        raise _corrupt("block span outside the payload")
    arr = np.frombuffer(buf + b"\x00" * 16, dtype=np.uint8)
    pos, sums = start.copy(), sums.copy()
    vb = sums < 0
    if vb.any():
        sums[vb], pos[vb] = _vbyte_decode_batch(arr, pos[vb], end[vb])
    if (sums >= 1 << 48).any():
        raise _corrupt("BIC block sum out of range")
    lanes_m = np.concatenate([m] * S)
    vals = bic_decode_batch(arr, pos * 8, lanes_m, sums, end_bits=end * 8)
    lane_offs = (offs + out.shape[1] * np.arange(S)[:, None]).ravel()
    out.reshape(-1)[np.repeat(lane_offs - (lanes_m.cumsum() - lanes_m),
                              lanes_m) + np.arange(len(vals))] = vals


def decode_blocks(buf: bytes, dicts: list, m: np.ndarray, start: np.ndarray,
                  end: np.ndarray, total: np.ndarray) -> np.ndarray:
    """Decode a batch of blocks: the one decoder behind cursors, list and
    subset decode, positions and the decode-rate protocol.

    Block i holds m[i] values in each stream s < len(dicts), coded in
    buf[start[s, i]:end[s, i]]. A full block (m == BLOCK_SIZE) is u16
    codewords of dicts[s], after a 1-byte selector for a MultiDictionary;
    any other block (0 < m < BLOCK_SIZE) is BIC with total[s, i] its known
    sum, or -1 when a vbyte sum prefixes it. Full blocks take one
    _decode_codes pass per dictionary; every BIC block of every stream
    joins one lane set. Returns the values as int64 rows, one per stream,
    blocks in order. Raises ValueError when a block's reads leave its
    span, so a cut or corrupt payload never decodes to plausible wrong
    values."""
    S = len(dicts)
    if len(m) == 1:  # one block (a cursor step): plain ints, no batching
        n = int(m[0])
        out = np.empty((S, n), dtype=np.int64)
        for s, (p, e, t) in enumerate(zip(start[:, 0].tolist(),
                                          end[:, 0].tolist(),
                                          total[:, 0].tolist())):
            out[s] = (_full_block(buf, p, e, dicts[s]) if n == BLOCK_SIZE
                      else _bic_block(buf, n, p, e, t))
        return out
    ends = m.cumsum()
    offs = ends - m
    T = int(ends[-1]) if len(m) else 0
    out = np.empty((S, T), dtype=np.int64)
    full = m == BLOCK_SIZE
    fi = full.nonzero()[0]
    if len(fi) < len(m):  # an all-BIC batch takes views, no gather
        bi = (~full).nonzero()[0] if len(fi) else slice(None)
        _decode_bic_blocks(buf, out, offs[bi], m[bi], start[:, bi],
                           end[:, bi], total[:, bi])
    if not len(fi):
        return out
    arr = np.frombuffer(buf, dtype=np.uint8)
    for s, dct in enumerate(dicts):
        b0, b1 = start[s, fi], end[s, fi]
        # 0 <= b0 < b1 <= len(buf): a full block holds at least one byte
        if (((b1 - b0 - 1) | b0 | (len(buf) - b1)) < 0).any():
            raise _corrupt("block span outside the payload")
        subs = getattr(dct, "dicts", None)
        if subs is None:
            _decode_full_blocks(arr, b0, b1, dct, out[s], offs[fi])
            continue
        sel = arr[b0]
        if (sel >= len(subs)).any():
            raise _corrupt("dictionary selector out of range")
        for k, d in enumerate(subs):
            j = (sel == k).nonzero()[0]
            if len(j):
                _decode_full_blocks(arr, b0[j] + 1, b1[j], d, out[s],
                                    offs[fi[j]])
    return out


def posting_blocks(payloads: list, ns, block_maxs: list, endpoints: list,
                   freq_offsets: list, blocks=None
                   ) -> tuple[bytes, np.ndarray]:
    """The block table of many posting lists, for decode_posting_blocks.
    Per list i: payloads[i], ns[i] >= 1 postings and the encode_list arrays
    block_maxs[i], endpoints[i], freq_offsets[i]. Returns (buf, table):
    the payloads joined, and the int64 rows (m, prev, docs start, freqs
    start, freqs end, docs total, freqs total) of every block in list
    order, laid out for decode_blocks: prev is the docid before the block,
    the docs total its gap sum, the freqs total -1 (vbyte-prefixed).
    ``blocks`` (one list only) describes just those block indices of it,
    in order, so a cursor's table costs what the cursor decodes. Raises
    ValueError when the described metadata leaves its payload. Built with
    plain ints, a few per described block, free of numpy's per-call
    overhead on one-block lists and cursor steps."""
    rows: list[tuple] = []
    base = 0
    for payload, n, bm, ep, fo in zip(payloads, ns, block_maxs, endpoints,
                                      freq_offsets):
        n = int(n)
        nb = (n + BLOCK_SIZE - 1) // BLOCK_SIZE
        if n < 1 or not len(bm) == len(ep) == len(fo) == nb:
            raise _corrupt("block metadata does not match the posting "
                           "count")
        if blocks is None:  # every block: plain lists index fastest
            bm, ep, fo = (np.asarray(a).tolist() for a in (bm, ep, fo))
        size = len(payload)
        for b in (range(nb) if blocks is None else blocks):
            m = min(n - b * BLOCK_SIZE, BLOCK_SIZE)
            prev = int(bm[b - 1]) if b else -1
            end = int(ep[b + 1]) if b + 1 < nb else size
            universe = int(bm[b]) - prev - m
            if universe < 0 or end > size:
                raise _corrupt("block metadata outside the payload")
            rows.append((m, prev, base + int(ep[b]), base + int(fo[b]),
                         base + end, universe, -1))
        base += size
    table = np.array(rows, dtype=np.int64).reshape(-1, 7).T.copy()
    return (bytes(payloads[0]) if len(payloads) == 1
            else b"".join(payloads)), table


def decode_posting_blocks(buf: bytes, table: np.ndarray, docs_dict,
                          freqs_dict
                          ) -> tuple[np.ndarray | None, np.ndarray | None]:
    """Docids and freqs of the blocks of a posting_blocks table through one
    decode_blocks call, gaps turned into docids by one segmented cumsum. A
    stream whose dictionary is None is skipped and returned as None (lazy
    freqs)."""
    # stream rows: docs is stream 0, freqs stream 1 (start, end, total)
    lo = 0 if docs_dict is not None else 1
    hi = 2 if freqs_dict is not None else 1
    vals = decode_blocks(buf, [docs_dict, freqs_dict][lo:hi], table[0],
                         table[2 + lo:2 + hi], table[3 + lo:3 + hi],
                         table[5 + lo:5 + hi])
    m, prev = table[0], table[1]
    docs = freqs = None
    if docs_dict is not None:
        # docid = prev + running sum of (gap + 1), restarting per block
        docs = vals[0] + 1
        docs[0] += prev[0]
        np.cumsum(docs, out=docs)
        if len(m) > 1:
            b1 = m.cumsum()[:-1]  # where each later block starts
            docs[m[0]:] += np.repeat(prev[1:] - docs[b1 - 1], m[1:])
    if freqs_dict is not None:
        freqs = vals[-1] + 1
    return docs, freqs


def decode_postings(payloads: list, ns, block_maxs: list, endpoints: list,
                    freq_offsets: list, docs_dict, freqs_dict
                    ) -> tuple[np.ndarray | None, np.ndarray | None,
                               np.ndarray]:
    """Every posting of many lists (posting_blocks' arguments) in one
    decode_posting_blocks pass. Returns (docs, freqs, offsets), list i's
    postings being [offsets[i], offsets[i + 1])."""
    docs, freqs = decode_posting_blocks(
        *posting_blocks(payloads, ns, block_maxs, endpoints, freq_offsets),
        docs_dict, freqs_dict)
    offsets = np.zeros(len(ns) + 1, dtype=np.int64)
    np.cumsum(ns, out=offsets[1:])
    return docs, freqs, offsets


def decode_list_bulk(payload: bytes, n: int, block_maxs: np.ndarray,
                     endpoints: np.ndarray, freq_offsets: np.ndarray,
                     docs_dict, freqs_dict
                     ) -> tuple[np.ndarray, np.ndarray]:
    """Full-list (docs, freqs) through decode_posting_blocks."""
    return decode_posting_blocks(
        *posting_blocks([payload], [n], [block_maxs], [endpoints],
                        [freq_offsets]), docs_dict, freqs_dict)


def decode_value_stream(payload: bytes, n: int, endpoints: np.ndarray,
                        dct) -> np.ndarray:
    """Decode a value stream written by encode_value_streams_batch (the
    freqs-stream layout: every block vbyte-sum-prefixed when short)."""
    payload = bytes(payload)
    start = np.asarray(endpoints, dtype=np.int64)
    nb = len(start)
    if nb != (n + BLOCK_SIZE - 1) // BLOCK_SIZE:
        raise _corrupt("block metadata does not match the value count")
    m = np.minimum(n - BLOCK_SIZE * np.arange(nb), BLOCK_SIZE)
    end = np.append(start[1:], len(payload))[:nb]
    return decode_blocks(payload, [dct], m, start[None], end[None],
                         np.full((1, nb), -1))[0]


def decode_list(payload: bytes, n: int, block_maxs: np.ndarray,
                endpoints: np.ndarray, docs_dict, freqs_dict
                ) -> tuple[np.ndarray, np.ndarray]:
    """Per-block reference decode (the vroom decode benchmark protocol +
    check_index): decode_block over each block in turn, the freqs stream
    read from where the docs stream ends. decode_blocks is pinned to it."""
    docs_out = np.empty(n, dtype=np.int64)
    freqs_out = np.empty(n, dtype=np.int64)
    prev = -1
    for lo in range(0, n, BLOCK_SIZE):
        b = lo // BLOCK_SIZE
        m = min(BLOCK_SIZE, n - lo)
        last = int(block_maxs[b])
        gaps, pos = decode_block(payload, int(endpoints[b]), m,
                                 last - prev - m, docs_dict)
        docs_out[lo:lo + m] = prev + np.cumsum(gaps.astype(np.int64) + 1)
        fvals, _ = decode_block(payload, pos, m, -1, freqs_dict)
        freqs_out[lo:lo + m] = fvals.astype(np.int64) + 1
        prev = last
    return docs_out, freqs_out
