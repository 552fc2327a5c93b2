"""Optional compiled kernels (ctypes + the host C compiler).

The sequential inner loops NumPy cannot vectorize — the greedy FSST parse
(each token's start depends on the previous token's length) and PNG row
defiltering (each pixel depends on its left neighbour) — compile once per
host from ``kernels.c`` into a content-addressed shared library under a
per-user mode-0700 cache dir (~/.cache/fileconvert_spark, or a
uid-qualified tempdir subdir), never a world-writable shared path; the
loader additionally refuses any cache file not owned by the current uid
or carrying group/other write bits. Everything degrades gracefully:

- no C compiler / compile failure / ``FCS_NO_NATIVE=1``  ->  callers get
  None and fall back to the pure-NumPy implementations, whose output is
  BYTE-IDENTICAL (property-tested in tests/test_native.py);
- the library is keyed by a hash of the C source, so editing kernels.c
  recompiles and stale caches are never loaded;
- concurrent processes (Spark's forked Python workers) race benignly:
  each compiles to a unique temp name and os.replace()s it into place.

The C source is read through ``__file__`` when the package runs from a
directory and through zipimport when executors import it from the shipped
``--py-files`` zip (session._package_zip archives non-.py files too).

Every kernel's argument types are declared once, in ``_SIGNATURES``:
arrays as C-contiguous ``np.ctypeslib.ndpointer`` of one dtype, so the
wrappers pass NumPy arrays straight through and a wrong-dtype or strided
array raises ``ctypes.ArgumentError`` at the boundary instead of handing
C the wrong memory.
"""

from __future__ import annotations

import ctypes
import hashlib
import os
import subprocess
import sys
import tempfile

import numpy as np

_LIB = None          # cached ctypes.CDLL (or False = tried and failed)
_SRC_NAME = "kernels.c"


def _array(dtype):
    return np.ctypeslib.ndpointer(dtype, flags="C_CONTIGUOUS")


# lower-case dtype names are C-contiguous array arguments; _int/_uint
# are scalars; _nullable is an optional raw pointer (None = NULL)
_u8, _u16, _u32, _u64, _i32, _i64 = map(
    _array, (np.uint8, np.uint16, np.uint32, np.uint64, np.int32, np.int64))
_int, _uint, _nullable = ctypes.c_int64, ctypes.c_uint64, ctypes.c_void_p

# argument types of every exported kernel in kernels.c, each of which
# returns int64_t; load() applies them, tests/test_native.py checks the
# names and arities against the C source
_SIGNATURES = {
    "fsst_encode": (
        _u8, _int,                  # buf (n+8 readable), n
        _i64, _int,                 # str_lens, n_str
        _u16, _u16,                 # lut12, ones
        _nullable, _nullable,       # sym_t u64, lc_t u16
        _int, _int,                 # hash_bits, walk_seg
        _u8, _i64),                 # out (2n), enc_lens
    "png_defilter": (
        _u8, _u8,                   # data, filters
        _int, _int, _int,           # h, w, ch
        _u8),                       # out
    "slab_word_hashes": (
        _u8, _int,                  # buf, n
        _i64, _int,                 # doc_starts, nd
        _u64, _i64),                # out_wh, out_wc
    "slab_gram_hashes": (
        _u64, _i64,                 # wh, wc
        _int, _int, _int,           # nd, ngram, short_doc_gram
        _u64),                      # out_gh
    "jpeg_entropy_decode": (
        _u8, _int,                  # data, n
        _int, _i64, _int,           # n_mcus, sched, sched_n
        _int,                       # n_comp
        _i64, _i64,                 # minc, maxc
        _i64, _u8,                  # vptr, vals
        _i32, _int),                # out, start_block
    "winnow_fps": (
        _u64, _i64,                 # vals, counts
        _int, _int,                 # nd, w
        _u64, _i64),                # out_fps, out_nfp
    "oph_minhash": (
        _u64, _i64,                 # gh, counts
        _int, _int, _uint,          # nd, n_hashes, densify_c
        _u64),                      # out_sig (nd, n_hashes)
    "simhash_batch": (
        _u64, _i64,                 # wh, wc
        _int,                       # nd
        _u64),                      # out_sig
    "huff_decode": (
        _u8,                        # payload (+4 pad readable)
        _u32, _u8,                  # lut_sym, lut_len
        _int,                       # table_bits
        _i64, _int,                 # seg_off, n_seg
        _int, _int,                 # seg_syms, n
        _u32),                      # out
    "huff_encode": (
        _i64, _int,                 # v, n
        _u8, _u32,                  # sym_len, codes
        _int,                       # seg_syms
        _u8, _int,                  # out, out_cap
        _u32),                      # seg_bytes
    "pack_bits": (
        _u64, _int, _int,           # v, n, width
        _u8, _int),                 # out, out_cap
    "unpack_bits": (
        _u8, _int,                  # data, nbytes
        _int, _int,                 # n, width
        _u64),                      # out
    "huff_code_lengths": (
        _i64, _int,                 # counts, k
        _int,                       # max_len
        _u8),                       # lens_out
}


def _read_source() -> bytes | None:
    here = os.path.dirname(os.path.abspath(__file__))
    path = os.path.join(here, _SRC_NAME)
    try:
        with open(path, "rb") as f:
            return f.read()
    except OSError:
        pass
    # running from the shipped package zip: __file__ is <...>.zip/pkg/...
    probe = here
    while probe and probe != os.path.dirname(probe):
        if os.path.isfile(probe):
            try:
                import zipfile

                rel = os.path.relpath(os.path.join(here, _SRC_NAME), probe)
                with zipfile.ZipFile(probe) as z:
                    return z.read(rel.replace(os.sep, "/"))
            except (OSError, KeyError):
                return None
        probe = os.path.dirname(probe)
    return None


def _compiler() -> str | None:
    import shutil as _sh

    for cc in (os.environ.get("CC"), "cc", "gcc", "clang"):
        if cc and _sh.which(cc):
            return cc
    return None


def _cache_dir() -> str:
    """Per-user mode-0700 cache directory for compiled kernels.

    A world-writable shared location (e.g. a bare /tmp path) would let
    another local user pre-plant a .so at the content-addressed name and
    gain code execution in every Spark worker, so the cache lives under
    XDG_CACHE_HOME (or ~/.cache) when that resolves, else a
    uid-qualified tempdir subdirectory — created 0700 either way."""
    base = os.environ.get("XDG_CACHE_HOME")
    if not base:
        home = os.path.expanduser("~")
        base = os.path.join(home, ".cache") if home != "~" else None
    if not base:
        base = os.path.join(tempfile.gettempdir(),
                            f"fcs-native-uid{os.getuid()}")
        d = base
    else:
        d = os.path.join(base, "fileconvert_spark")
    os.makedirs(d, mode=0o700, exist_ok=True)
    return d


def _safe_to_load(path: str) -> bool:
    """True only if ``path`` exists, is a regular file owned by the
    current uid, and carries no group/other write bits — anything else
    is treated as absent (recompiled over) or refused."""
    try:
        st = os.lstat(path)
    except OSError:
        return False
    import stat as _stat

    return bool(_stat.S_ISREG(st.st_mode)
                and st.st_uid == os.getuid()
                and not (st.st_mode & 0o022))


def load():
    """The compiled library, or None (no toolchain / disabled / failed)."""
    global _LIB
    if os.environ.get("FCS_NO_NATIVE"):
        return None
    if _LIB is not None:
        return _LIB or None
    src = _read_source()
    cc = _compiler()
    if src is None or cc is None:
        _LIB = False
        return None
    tag = hashlib.sha256(src).hexdigest()[:16]
    try:
        lib_path = os.path.join(_cache_dir(), f"fcs_native_{tag}.so")
    except OSError as e:
        print(f"fcs.native: no writable cache dir ({e}); using NumPy "
              "paths", file=sys.stderr)
        _LIB = False
        return None
    if not _safe_to_load(lib_path):
        tmp_c = lib_path + f".{os.getpid()}.c"
        tmp_so = lib_path + f".{os.getpid()}.so"
        try:
            with open(tmp_c, "wb") as f:
                f.write(src)
            subprocess.run(
                [cc, "-O3", "-fPIC", "-shared", "-std=c99", tmp_c,
                 "-o", tmp_so],
                check=True, capture_output=True, timeout=120)
            os.chmod(tmp_so, 0o700)
            os.replace(tmp_so, lib_path)    # atomic vs racing workers
        except (OSError, subprocess.SubprocessError) as e:
            print(f"fcs.native: compile failed ({e}); using NumPy paths",
                  file=sys.stderr)
            _LIB = False
            return None
        finally:
            for p in (tmp_c, tmp_so):
                try:
                    os.unlink(p)
                except OSError:
                    pass
    if not _safe_to_load(lib_path):
        print("fcs.native: refusing unsafe kernel cache file "
              f"{lib_path}; using NumPy paths", file=sys.stderr)
        _LIB = False
        return None
    try:
        lib = ctypes.CDLL(lib_path)
    except OSError as e:
        print(f"fcs.native: load failed ({e}); using NumPy paths",
              file=sys.stderr)
        _LIB = False
        return None

    for name, argtypes in _SIGNATURES.items():
        fn = getattr(lib, name)
        fn.restype = ctypes.c_int64
        fn.argtypes = argtypes
    _LIB = lib
    return lib


def fsst_encode(arr, lengths, tables, hash_bits: int, walk_seg: int):
    """C greedy FSST parse; returns (enc bytes, enc_lengths) or None when
    the native library is unavailable. ``tables`` is the
    fsst._build_match_tables result; output is byte-identical to the
    NumPy walk (tests/test_native.py)."""
    lib = load()
    if lib is None:
        return None
    lut12, ones, h3 = tables
    n = len(arr)
    padded = np.empty(n + 8, dtype=np.uint8)    # memcpy reads 8 past pos
    padded[:n] = arr
    padded[n:] = 0
    out = np.empty(2 * max(n, 1), dtype=np.uint8)
    enc_lens = np.empty(max(len(lengths), 1), dtype=np.int64)
    lengths = np.ascontiguousarray(lengths, dtype=np.int64)
    sym_p, lc_p = (h3[0].ctypes, h3[1].ctypes) if h3 else (None, None)
    total = lib.fsst_encode(
        padded, n, lengths, len(lengths), lut12, ones,
        sym_p, lc_p, hash_bits, walk_seg, out, enc_lens)
    return out[:total].tobytes(), enc_lens[:len(lengths)].copy()


def slab_word_hashes(buf, doc_starts):
    """C word hashing over a document slab; returns (word_hashes uint64,
    word_counts int64) or None when unavailable. Bit-identical to the
    NumPy prefix-sum path (functions/similarity.py _slab_word_hashes)."""
    lib = load()
    if lib is None:
        return None
    buf = np.ascontiguousarray(buf, dtype=np.uint8)
    doc_starts = np.ascontiguousarray(doc_starts, dtype=np.int64)
    nd = doc_starts.size
    out_wh = np.empty((buf.size + 1) // 2 + 1, dtype=np.uint64)
    out_wc = np.empty(max(nd, 1), dtype=np.int64)
    m = lib.slab_word_hashes(buf, buf.size, doc_starts, nd, out_wh, out_wc)
    return out_wh[:m].copy(), out_wc[:nd].copy()


def slab_gram_hashes(wh, wc, ngram: int, short_doc_gram: bool, total: int):
    """C rolling word-n-gram hashes; returns gram hashes uint64[total] or
    None when unavailable. ``total`` is the exact gram count the caller
    derives from ``wc`` (asserted against the kernel's own count)."""
    lib = load()
    if lib is None:
        return None
    wh = np.ascontiguousarray(wh, dtype=np.uint64)
    wc = np.ascontiguousarray(wc, dtype=np.int64)
    out = np.empty(max(total, 1), dtype=np.uint64)
    m = lib.slab_gram_hashes(wh, wc, wc.size, ngram,
                             1 if short_doc_gram else 0, out)
    if m != total:
        return None  # defensive: count mismatch -> NumPy path decides
    return out[:total]


def winnow_fps(vals, counts, w: int):
    """Fused C winnowing: selection + per-doc distinct/ascending sort in
    one pass; returns (fps uint64, n_fp int64[nd]) or None when
    unavailable. Identical to the NumPy batch path's output."""
    lib = load()
    if lib is None:
        return None
    vals = np.ascontiguousarray(vals, dtype=np.uint64)
    counts = np.ascontiguousarray(counts, dtype=np.int64)
    out_fps = np.empty(max(vals.size, 1), dtype=np.uint64)
    out_nfp = np.empty(max(counts.size, 1), dtype=np.int64)
    m = lib.winnow_fps(vals, counts, counts.size, w, out_fps, out_nfp)
    if m < 0:
        return None
    return out_fps[:m].copy(), out_nfp[:counts.size].copy()


def jpeg_entropy_decode(data, n_mcus, sched, dc_sel, ac_sel, coefs,
                        start_block: int):
    """C baseline-JPEG entropy decode of one restart segment; returns
    blocks written or None when unavailable (callers fall back to the
    Python bit reader with identical output)."""
    lib = load()
    if lib is None:
        return None
    n_comp = max(sched) + 1
    # flatten the huffman tables: per component, DC then AC —
    # mincode/maxcode/valptr are 17 int64 each, vals up to 256 bytes
    minc = np.zeros((n_comp, 2, 17), dtype=np.int64)
    maxc = np.zeros((n_comp, 2, 17), dtype=np.int64)
    vptr = np.zeros((n_comp, 2, 17), dtype=np.int64)
    vals = np.zeros((n_comp, 2, 256), dtype=np.uint8)
    for ci in set(sched):
        for ti, tab in ((0, dc_sel[ci]), (1, ac_sel[ci])):
            minc[ci, ti] = tab.mincode
            maxc[ci, ti] = tab.maxcode
            vptr[ci, ti] = tab.valptr
            vals[ci, ti, :tab.vals.size] = tab.vals
    buf = np.frombuffer(data, dtype=np.uint8)
    sched_a = np.asarray(sched, dtype=np.int64)
    rc = lib.jpeg_entropy_decode(
        buf, buf.size, n_mcus, sched_a, sched_a.size, n_comp,
        minc, maxc, vptr, vals, coefs, start_block)
    if rc < 0:
        raise ValueError(
            "JPEG: invalid huffman code or truncated entropy data"
            f" (native rc {rc})")
    return rc


def png_defilter(data, filters, w: int, ch: int):
    """C PNG defilter; returns (h, w*ch) uint8 or None when unavailable.
    Callers pre-validate filter bytes (the kernel's error return is
    defensive only)."""
    lib = load()
    if lib is None:
        return None
    data = np.ascontiguousarray(data, dtype=np.uint8)
    filters = np.ascontiguousarray(filters, dtype=np.uint8)
    h = data.shape[0]
    out = np.empty((h, w * ch), dtype=np.uint8)
    rc = lib.png_defilter(data, filters, h, w, ch, out)
    if rc != 0:
        raise ValueError(f"PNG: unknown row filter at row {-rc - 1}")
    return out


def oph_minhash(gh, counts, n_hashes: int, densify_c):
    """C one-permutation MinHash (bucket-min + rotation densify);
    returns uint64 (nd, n_hashes) or None when unavailable.
    Bit-identical to similarity._oph_signatures (property-tested)."""
    lib = load()
    if lib is None:
        return None
    gh = np.ascontiguousarray(gh, dtype=np.uint64)
    counts = np.ascontiguousarray(counts, dtype=np.int64)
    nd = counts.size
    out = np.empty((max(nd, 1), n_hashes), dtype=np.uint64)
    lib.oph_minhash(gh, counts, nd, n_hashes, int(densify_c), out)
    return out[:nd]


def simhash_batch(wh, wc):
    """C 64-bit SimHash (per-bit majority over word hashes); returns
    uint64[nd] or None when unavailable. Bit-identical to
    similarity.simhash64_batch's histogram path (property-tested)."""
    lib = load()
    if lib is None:
        return None
    wh = np.ascontiguousarray(wh, dtype=np.uint64)
    wc = np.ascontiguousarray(wc, dtype=np.int64)
    nd = wc.size
    out = np.empty(max(nd, 1), dtype=np.uint64)
    lib.simhash_batch(wh, wc, nd, out)
    return out[:nd]


def huff_decode(payload, lut_sym, lut_len, table_bits: int, seg_off,
                seg_syms: int, n: int):
    """C canonical-Huffman segment decode; returns uint32[n] symbols or
    None when unavailable. Byte-identical to huffman._decode_numpy with
    the same prefix LUT (property-tested). Raises ValueError on corrupt
    streams (invalid code / segment overrun), matching the NumPy path."""
    lib = load()
    if lib is None:
        return None
    payload = np.ascontiguousarray(payload, dtype=np.uint8)
    # the kernel reads 4-byte windows at the tail: give it a padded copy
    buf = np.zeros(payload.size + 4, dtype=np.uint8)
    buf[: payload.size] = payload
    lut_sym = np.ascontiguousarray(lut_sym, dtype=np.uint32)
    lut_len = np.ascontiguousarray(lut_len, dtype=np.uint8)
    seg_off = np.ascontiguousarray(seg_off, dtype=np.int64)
    n_seg = seg_off.size - 1
    out = np.empty(max(int(n_seg * seg_syms), 1), dtype=np.uint32)
    rc = lib.huff_decode(buf, lut_sym, lut_len, table_bits,
                         seg_off, n_seg, seg_syms, n, out)
    if rc < 0:
        raise ValueError(
            f"huffman: corrupt stream in segment {-rc - 1}")
    return out[:n]


def huff_encode(v, sym_len, codes, seg_syms: int):
    """C canonical-Huffman segment encode; returns (body bytes, uint32
    per-segment byte lengths) or None when unavailable. Byte-identical
    to the NumPy bincount-lane path in huffman.encode (property-tested).
    Raises ValueError on a symbol with zero code length."""
    lib = load()
    if lib is None:
        return None
    v = np.ascontiguousarray(v, dtype=np.int64)
    sym_len = np.ascontiguousarray(sym_len, dtype=np.uint8)
    codes = np.ascontiguousarray(codes, dtype=np.uint32)
    n = v.size
    n_seg = max(1, -(-n // seg_syms))
    # every code is <= MAX_LEN (16) bits -> 2 bytes/symbol + per-segment
    # alignment byte bounds the output exactly
    cap = 2 * n + n_seg + 8
    out = np.empty(cap, dtype=np.uint8)
    seg_bytes = np.empty(n_seg, dtype=np.uint32)
    rc = lib.huff_encode(v, n, sym_len, codes, seg_syms, out, cap,
                         seg_bytes)
    if rc == -1:
        raise ValueError("huffman.encode: symbol with zero code length")
    if rc < 0:
        return None
    return out[:rc].tobytes(), seg_bytes


def huff_code_lengths(counts, max_len: int):
    """C two-queue merge + T.81 K.3 Adjust_BITS code-length construction;
    returns uint8[k] lens, or None when unavailable or when more than
    2**max_len symbols are present (no prefix code fits; the Python
    path raises). Byte-identical to the NumPy/Python path in
    huffman.code_lengths (property-tested) — the merge is a
    data-dependent sequential chain, so the Python loop was ~4 ms/call
    at 4k symbols on the encode hot path (r8)."""
    lib = load()
    if lib is None:
        return None
    c = np.ascontiguousarray(counts, dtype=np.int64)
    lens = np.zeros(max(c.size, 1), dtype=np.uint8)
    rc = lib.huff_code_lengths(c, c.size, max_len, lens)
    if rc < 0:
        return None
    return lens[: c.size]


def pack_bits(vals, width: int):
    """C fixed-width MSB-first bit-pack; returns bytes or None when the
    kernel is unavailable. Byte-identical to bitpack.pack_uints's
    np.packbits matrix path (property-tested)."""
    lib = load()
    if lib is None:
        return None
    v = np.ascontiguousarray(vals, dtype=np.uint64)
    n = v.size
    cap = (n * width + 7) // 8 + 8
    out = np.empty(cap, dtype=np.uint8)
    rc = lib.pack_bits(v, n, width, out, cap)
    if rc < 0:
        return None
    return out[:rc].tobytes()


def unpack_bits(data, width: int, n: int):
    """C inverse of pack_bits; returns uint64[n] or None when the kernel
    is unavailable. Raises ValueError on a truncated payload, matching
    bitpack.unpack_uints."""
    lib = load()
    if lib is None:
        return None
    buf = np.frombuffer(data, dtype=np.uint8)
    out = np.empty(max(n, 1), dtype=np.uint64)
    rc = lib.unpack_bits(buf, buf.size, n, width, out)
    if rc < 0:
        raise ValueError(
            f"bit-packed payload truncated: need {(n * width + 7) // 8} "
            f"bytes for {n} x {width}-bit values, have {buf.size}")
    return out[:n]
