#!/usr/bin/env python3
"""Deterministic .h5ad fixture writer, Python stdlib only.

Writes real HDF5 files following the public HDF5 File Format
Specification (version 0 superblock, v1 object headers, old-style
symbol-table groups, v1 B-trees, local/global heaps, contiguous and
chunked layouts with shuffle+deflate filters) in the layout h5py's
default libver="earliest" emits, carrying the AnnData on-disk encoding
(anndata element specification: encoding-type/encoding-version attrs,
dataframe groups with _index/column-order, categorical groups with
codes/categories, csr_matrix groups with data/indices/indptr).

The LOGICAL content is closed-form so the DuckDB oracle can recompute
it from range() with no file dependency (see FixtureSpec below); a
rows+schema+hash match on the driver gate then proves the JVM-side
HDF5 parse end-to-end. All float payloads are integer multiples of
0.5, so sums are exact in IEEE double regardless of reduction order.

Usage:  python3 tools/gen_h5ad.py fixtures/h5ad
"""
import os
import struct
import sys
import zlib

UNDEF = 0xFFFFFFFFFFFFFFFF


# ----------------------------------------------------------------- buffer

class FileBuf:
    """Append-mostly byte buffer with 8-aligned allocation and patching."""

    def __init__(self):
        self.buf = bytearray(96)  # superblock v0 placeholder

    def alloc(self, n, align=8):
        while len(self.buf) % align:
            self.buf.append(0)
        off = len(self.buf)
        self.buf += bytes(n)
        return off

    def put(self, off, data):
        self.buf[off:off + len(data)] = data

    def emit(self, data, align=8):
        off = self.alloc(len(data), align)
        self.put(off, data)
        return off


def pad8(b):
    return b + bytes((-len(b)) % 8)


# -------------------------------------------------------------- datatypes

def dt_fixed(size, signed=True):
    """Fixed-point datatype message body (class 0, v1, little-endian)."""
    b0 = 0x08 if signed else 0x00  # bit3 = signed two's complement
    return struct.pack('<B3BI', 0x10, b0, 0, 0, size) + struct.pack('<HH', 0, size * 8)


def dt_float(size):
    """IEEE float LE (class 1, v1)."""
    if size == 8:
        sign, exploc, expsz, mantsz, bias = 63, 52, 11, 52, 1023
    else:
        sign, exploc, expsz, mantsz, bias = 31, 23, 8, 23, 127
    # b0: mantissa normalization = 2 (implied msb) in bits 4-5
    return (struct.pack('<B3BI', 0x11, 0x20, sign, 0, size)
            + struct.pack('<HHBBBBI', 0, size * 8, exploc, expsz, 0, mantsz, bias))


DT_STR1 = struct.pack('<B3BI', 0x13, 0x00, 0, 0, 1)  # 1-byte C string, nullterm, ASCII


def dt_vlen_str():
    """Variable-length UTF-8 string (class 9, type=string, cset=utf8)."""
    # bit field: bits0-3 type=1 (string), bits4-7 pad=0, bits8-11 cset=1 (utf8)
    return struct.pack('<B3BI', 0x19, 0x01, 0x01, 0, 16) + DT_STR1


# -------------------------------------------------------------- dataspace

def dataspace(dims):
    body = struct.pack('<BBBB4x', 1, len(dims), 0, 0)
    for d in dims:
        body += struct.pack('<Q', d)
    return body


DS_SCALAR = dataspace(())


# ------------------------------------------------------------ global heap

class GHeapPool:
    """Global heap collections, split at 4096 bytes like libhdf5."""

    def __init__(self, fb):
        self.fb = fb
        self.items = []   # (bytes) for current collection
        self.refs = []    # placeholder list parallel to all adds
        self._pending = []

    def add(self, data):
        """Queue one heap object; returns an index into resolved refs."""
        self._pending.append(data)
        return len(self.refs) + len(self._pending) - 1

    def flush(self):
        """Write queued objects into >=1 collections; resolve refs."""
        i = 0
        while i < len(self._pending):
            objs = b''
            local = []
            while i < len(self._pending):
                it = self._pending[i]
                rec = struct.pack('<HH4xQ', len(local) + 1, 1, len(it)) + pad8(it)
                if objs and 16 + len(objs) + len(rec) + 16 > 4096:
                    break
                objs += rec
                local.append(len(local) + 1)
                i += 1
            size = max(4096, ((16 + len(objs) + 16) + 7) & ~7)
            free = size - 16 - len(objs)
            data = b'GCOL' + struct.pack('<B3xQ', 1, size) + objs
            data += struct.pack('<HH4xQ', 0, 0, free)
            data += bytes(size - len(data))
            addr = self.fb.emit(data)
            for idx in local:
                self.refs.append((addr, idx))
        self._pending = []

    def ref_bytes(self, i, strlen):
        addr, idx = self.refs[i]
        return struct.pack('<IQI', strlen, addr, idx)


def vlen_payload(gh, strings):
    """Queue strings; returns a closure producing the raw element bytes."""
    enc = [s.encode('utf-8') for s in strings]
    idxs = [gh.add(e) for e in enc]

    def materialize():
        return b''.join(gh.ref_bytes(ix, len(e)) for ix, e in zip(idxs, enc))
    return materialize


# --------------------------------------------------- lookup3 (v2 sums)

def _rot(x, k):
    return ((x << k) | (x >> (32 - k))) & 0xFFFFFFFF


def lookup3(data, initval=0):
    """Bob Jenkins hashlittle — the HDF5 metadata checksum."""
    length = len(data)
    a = b = c = (0xDEADBEEF + length + initval) & 0xFFFFFFFF
    i = 0
    while length > 12:
        a = (a + int.from_bytes(data[i:i + 4], 'little')) & 0xFFFFFFFF
        b = (b + int.from_bytes(data[i + 4:i + 8], 'little')) & 0xFFFFFFFF
        c = (c + int.from_bytes(data[i + 8:i + 12], 'little')) & 0xFFFFFFFF
        a = (a - c) & 0xFFFFFFFF; a ^= _rot(c, 4); c = (c + b) & 0xFFFFFFFF
        b = (b - a) & 0xFFFFFFFF; b ^= _rot(a, 6); a = (a + c) & 0xFFFFFFFF
        c = (c - b) & 0xFFFFFFFF; c ^= _rot(b, 8); b = (b + a) & 0xFFFFFFFF
        a = (a - c) & 0xFFFFFFFF; a ^= _rot(c, 16); c = (c + b) & 0xFFFFFFFF
        b = (b - a) & 0xFFFFFFFF; b ^= _rot(a, 19); a = (a + c) & 0xFFFFFFFF
        c = (c - b) & 0xFFFFFFFF; c ^= _rot(b, 4); b = (b + a) & 0xFFFFFFFF
        i += 12
        length -= 12
    if length > 0:
        tail = data[i:] + b'\x00' * (12 - length)
        a = (a + int.from_bytes(tail[0:4], 'little')) & 0xFFFFFFFF
        b = (b + int.from_bytes(tail[4:8], 'little')) & 0xFFFFFFFF
        c = (c + int.from_bytes(tail[8:12], 'little')) & 0xFFFFFFFF
        c ^= b; c = (c - _rot(b, 14)) & 0xFFFFFFFF
        a ^= c; a = (a - _rot(c, 11)) & 0xFFFFFFFF
        b ^= a; b = (b - _rot(a, 25)) & 0xFFFFFFFF
        c ^= b; c = (c - _rot(b, 16)) & 0xFFFFFFFF
        a ^= c; a = (a - _rot(c, 4)) & 0xFFFFFFFF
        b ^= a; b = (b - _rot(a, 14)) & 0xFFFFFFFF
        c ^= b; c = (c - _rot(b, 24)) & 0xFFFFFFFF
    return c


assert lookup3(b'') == 0xDEADBEEF
assert lookup3(b'Four score and seven years ago') == 0x17770551


# ----------------------------------------------------------- obj headers

# When True, object headers are v2 ("OHDR") and groups use compact link
# messages — the h5py libver="latest" layout (superblock v3).
LATEST = False


def message(mtype, body):
    body = pad8(body)
    return struct.pack('<HHB3x', mtype, len(body), 0) + body


def object_header(fb, messages):
    if LATEST:
        framed = b''.join(struct.pack('<BHB', t, len(b), 0) + b
                          for t, b in messages)
        core = (b'OHDR' + struct.pack('<BB', 2, 2)
                + struct.pack('<I', len(framed)) + framed)
        return fb.emit(core + struct.pack('<I', lookup3(core)))
    framed = b''.join(message(t, b) for t, b in messages)
    hdr = struct.pack('<BBHII4x', 1, 0, len(messages), 1, len(framed))
    return fb.emit(hdr + framed)


def attr_msg(name, dtbytes, dsbytes, data):
    nb = name.encode('utf-8') + b'\0'
    return (struct.pack('<BBHHH', 1, 0, len(nb), len(dtbytes), len(dsbytes))
            + pad8(nb) + pad8(dtbytes) + pad8(dsbytes) + data)


def str_attr(gh, name, value):
    """Scalar vlen-utf8 string attribute (the anndata convention)."""
    mk = vlen_payload(gh, [value])
    return lambda: attr_msg(name, dt_vlen_str(), DS_SCALAR, mk())


def str_array_attr(gh, name, values):
    mk = vlen_payload(gh, values)
    return lambda: attr_msg(name, dt_vlen_str(), dataspace((len(values),)), mk())


def int_attr(name, value, size=1):
    return lambda: attr_msg(name, dt_fixed(size), DS_SCALAR,
                            value.to_bytes(size, 'little', signed=True))


def int64_array_attr(name, values):
    data = b''.join(struct.pack('<q', v) for v in values)
    return lambda: attr_msg(name, dt_fixed(8), dataspace((len(values),)), data)


def enc_attrs(gh, etype, eversion):
    return [str_attr(gh, 'encoding-type', etype),
            str_attr(gh, 'encoding-version', eversion)]


# -------------------------------------------------------------- datasets

def attr_msgs(gh, attrs):
    """Resolve queued heap strings, then materialize attribute closures."""
    gh.flush()
    return [(0x000C, a()) for a in attrs]


def contiguous_dataset(fb, gh, dtbytes, dims, raw, attrs):
    addr = fb.emit(raw)
    layout = struct.pack('<BBQQ', 3, 1, addr, len(raw))
    msgs = [(0x0001, dataspace(dims)), (0x0003, dtbytes), (0x0008, layout)]
    msgs += attr_msgs(gh, attrs)
    return object_header(fb, msgs)


def shuffle_bytes(raw, esize):
    n = len(raw) // esize
    out = bytearray(len(raw))
    for j in range(esize):
        out[j * n:(j + 1) * n] = raw[j::esize]
    return bytes(out)


def chunked_dataset(fb, gh, dtbytes, dims, chunk, esize, cell_bytes, attrs,
                    level=4, shuffle=True):
    """Chunked + (shuffle+)deflate dataset. cell_bytes(coords) -> element."""
    rank = len(dims)
    grid = [(dims[d] + chunk[d] - 1) // chunk[d] for d in range(rank)]
    entries = []
    for ci in range(grid[0]):
        for cj in (range(grid[1]) if rank == 2 else (0,)):
            rows = []
            for a in range(chunk[0]):
                for b in (range(chunk[1]) if rank == 2 else (0,)):
                    i = ci * chunk[0] + a
                    j = cj * chunk[1] + b if rank == 2 else 0
                    if (i < dims[0]) and (rank == 1 or j < dims[1]):
                        rows.append(cell_bytes((i, j) if rank == 2 else (i,)))
                    else:
                        rows.append(bytes(esize))  # edge-chunk fill
            raw = b''.join(rows)
            if shuffle:
                raw = shuffle_bytes(raw, esize)
            comp = zlib.compress(raw, level)
            addr = fb.emit(comp)
            coords = (ci * chunk[0], cj * chunk[1]) if rank == 2 else (ci * chunk[0],)
            entries.append((coords, len(comp), addr))
    # v1 chunk B-tree, one leaf (entries <= 64 with istore k=32)
    assert len(entries) <= 64, 'fixture chunk grid exceeds one leaf node'
    keysize = 8 + 8 * (rank + 1)
    body = b'TREE' + struct.pack('<BBHQQ', 1, 0, len(entries), UNDEF, UNDEF)
    for coords, sz, addr in entries:
        body += struct.pack('<II', sz, 0)
        body += b''.join(struct.pack('<Q', c) for c in coords) + struct.pack('<Q', 0)
        body += struct.pack('<Q', addr)
    bound = tuple(g * c for g, c in zip(grid, chunk))
    body += struct.pack('<II', 0, 0)
    body += b''.join(struct.pack('<Q', c) for c in bound) + struct.pack('<Q', 0)
    node = fb.alloc(24 + 65 * keysize + 64 * 8)
    fb.put(node, body)
    layout = struct.pack('<BBBQ', 3, 2, rank + 1, node)
    layout += b''.join(struct.pack('<I', c) for c in chunk) + struct.pack('<I', esize)
    filters = struct.pack('<BB2x4x', 1, (2 if shuffle else 1))
    if shuffle:
        filters += struct.pack('<HHHHI4x', 2, 0, 0, 1, esize)
    filters += struct.pack('<HHHHI4x', 1, 0, 0, 1, level)
    msgs = [(0x0001, dataspace(dims)), (0x0003, dtbytes), (0x0008, layout),
            (0x000B, filters)]
    msgs += attr_msgs(gh, attrs)
    return object_header(fb, msgs)


def vlen_str_dataset(fb, gh, strings, attrs):
    mk = vlen_payload(gh, strings)
    gh.flush()
    return contiguous_dataset(fb, gh, dt_vlen_str(), (len(strings),), mk(), attrs)


# ---------------------------------------------------------------- groups

def group(fb, gh, links, attrs=()):
    """Old-style group: local heap + SNOD + v1 B-tree + symbol table msg.
    With LATEST: compact link messages + link info (new-style group)."""
    if LATEST:
        msgs = [(0x0002, struct.pack('<BBQQ', 0, 0, UNDEF, UNDEF))]
        for nm in sorted(links):
            nb = nm.encode('utf-8')
            msgs.append((0x0006, struct.pack('<BBB', 1, 0, len(nb)) + nb
                         + struct.pack('<Q', links[nm])))
        msgs += attr_msgs(gh, attrs)
        return object_header(fb, msgs)
    names = sorted(links)
    # one SNOD per <=8 names (2*sym_leaf_k with the default k=4), all under
    # one level-0 B-tree node; keys are heap offsets — key[0] = 0 (empty
    # name), key[i+1] = last name of child i, per the libhdf5 layout
    assert len(names) <= 32, 'group writer: <= 32 links (4 SNODs)'
    heap_data = bytearray(b'\0' * 8)  # offset 0: the empty name
    offs = {}
    for nm in names:
        nb = nm.encode('utf-8') + b'\0'
        offs[nm] = len(heap_data)
        heap_data += pad8(nb)
    dseg = fb.emit(bytes(heap_data))
    heap = fb.emit(b'HEAP' + struct.pack('<B3xQQQ', 0, len(heap_data), UNDEF, dseg))
    snods = []
    for i in range(0, len(names), 8):
        part = names[i:i + 8]
        snod_body = b'SNOD' + struct.pack('<BBH', 1, 0, len(part))
        for nm in part:
            snod_body += struct.pack('<QQII16x', offs[nm], links[nm], 0, 0)
        snod = fb.alloc(8 + 8 * 40)
        fb.put(snod, snod_body)
        snods.append((snod, offs[part[-1]]))
    bt_body = (b'TREE' + struct.pack('<BBHQQ', 0, 0, len(snods), UNDEF, UNDEF)
               + struct.pack('<Q', 0))
    for snod, last_off in snods:
        bt_body += struct.pack('<QQ', snod, last_off)
    bt = fb.alloc(24 + 9 * 8 + 8 * 8)
    fb.put(bt, bt_body)
    msgs = [(0x0011, struct.pack('<QQ', bt, heap))]
    msgs += attr_msgs(gh, attrs)
    return object_header(fb, msgs)


def finish(fb, root_addr, path):
    if LATEST:  # superblock v3 + lookup3 checksum
        core = (b'\x89HDF\r\n\x1a\n' + struct.pack('<BBBB', 3, 8, 8, 0)
                + struct.pack('<QQQQ', 0, UNDEF, len(fb.buf), root_addr))
        sb = core + struct.pack('<I', lookup3(core))
    else:
        sb = b'\x89HDF\r\n\x1a\n'
        sb += struct.pack('<BBBBBBBB', 0, 0, 0, 0, 0, 8, 8, 0)
        sb += struct.pack('<HHI', 4, 16, 0)
        sb += struct.pack('<QQQQ', 0, UNDEF, len(fb.buf), UNDEF)
        sb += struct.pack('<QQII16x', 0, root_addr, 0, 0)  # root symbol table entry
    fb.put(0, sb)
    with open(path, 'wb') as f:
        f.write(fb.buf)
    print(f'{path}: {len(fb.buf)} bytes')


# ---------------------------------------------------------- fixture spec

# Closed-form content (mirrored by the DuckDB oracles and H5Spec):
#   obs._index[i]      = 'cell_' || i
#   obs.cell_type[i]   = 'type_' || (i % 5)        (categorical codes i%5)
#   obs.n_counts[i]    = (i*37 % 1000) + 0.5       (f8, exact halves)
#   obs.sample[i]      = 's' || (i % 7)            (vlen string array)
#   var._index[j]      = 'gene_' || j
#   var.mean[j]        = j * 0.25                  (f4, exact)
#   var.highly_variable[j] = (j % 3 == 0) ? 1 : 0  (i4)
#   dense X[i,j]       = ((i*31 + j*17) % 97) * 0.5
#   csr   mask(i,j)    = (i*7 + j*13) % 5 == 0; value as dense


def obs_group(fb, gh, n_obs):
    idx = vlen_str_dataset(fb, gh, [f'cell_{i}' for i in range(n_obs)],
                           enc_attrs(gh, 'string-array', '0.2.0'))
    codes_raw = bytes((i % 5) for i in range(n_obs))
    codes = contiguous_dataset(fb, gh, dt_fixed(1), (n_obs,), codes_raw,
                               enc_attrs(gh, 'array', '0.2.0'))
    cats = vlen_str_dataset(fb, gh, [f'type_{k}' for k in range(5)],
                            enc_attrs(gh, 'string-array', '0.2.0'))
    cell_type = group(fb, gh, {'codes': codes, 'categories': cats},
                      enc_attrs(gh, 'categorical', '0.2.0') + [int_attr('ordered', 0)])
    counts_raw = b''.join(struct.pack('<d', (i * 37 % 1000) + 0.5)
                          for i in range(n_obs))
    n_counts = contiguous_dataset(fb, gh, dt_float(8), (n_obs,), counts_raw,
                                  enc_attrs(gh, 'array', '0.2.0'))
    sample = vlen_str_dataset(fb, gh, [f's{i % 7}' for i in range(n_obs)],
                              enc_attrs(gh, 'string-array', '0.2.0'))
    attrs = (enc_attrs(gh, 'dataframe', '0.2.0')
             + [str_attr(gh, '_index', '_index'),
                str_array_attr(gh, 'column-order',
                               ['cell_type', 'n_counts', 'sample'])])
    return group(fb, gh, {'_index': idx, 'cell_type': cell_type,
                          'n_counts': n_counts, 'sample': sample}, attrs)


def var_group(fb, gh, n_var):
    idx = vlen_str_dataset(fb, gh, [f'gene_{j}' for j in range(n_var)],
                           enc_attrs(gh, 'string-array', '0.2.0'))
    mean_raw = b''.join(struct.pack('<f', j * 0.25) for j in range(n_var))
    mean = contiguous_dataset(fb, gh, dt_float(4), (n_var,), mean_raw,
                              enc_attrs(gh, 'array', '0.2.0'))
    hv_raw = b''.join(struct.pack('<i', 1 if j % 3 == 0 else 0)
                      for j in range(n_var))
    hv = contiguous_dataset(fb, gh, dt_fixed(4), (n_var,), hv_raw,
                            enc_attrs(gh, 'array', '0.2.0'))
    attrs = (enc_attrs(gh, 'dataframe', '0.2.0')
             + [str_attr(gh, '_index', '_index'),
                str_array_attr(gh, 'column-order', ['mean', 'highly_variable'])])
    return group(fb, gh, {'_index': idx, 'mean': mean, 'highly_variable': hv}, attrs)


def xval(i, j):
    return ((i * 31 + j * 17) % 97) * 0.5


# ------------------------------------------------- uns / csr building blocks

def scalar_f8(fb, gh, value):
    return contiguous_dataset(fb, gh, dt_float(8), (), struct.pack('<d', value),
                              enc_attrs(gh, 'numeric-scalar', '0.2.0'))


def scalar_i8(fb, gh, value):
    return contiguous_dataset(fb, gh, dt_fixed(8), (), struct.pack('<q', value),
                              enc_attrs(gh, 'numeric-scalar', '0.2.0'))


def scalar_str(fb, gh, value):
    mk = vlen_payload(gh, [value])
    gh.flush()
    return contiguous_dataset(fb, gh, dt_vlen_str(), (), mk(),
                              enc_attrs(gh, 'string', '0.2.0'))


def csr_group(fb, gh, n_rows, n_cols, mask, val):
    """csr_matrix group from closed-form mask/value functions."""
    data, indices, indptr = [], [], [0]
    for i in range(n_rows):
        for j in range(n_cols):
            if mask(i, j):
                data.append(val(i, j))
                indices.append(j)
        indptr.append(len(data))
    data_ds = chunked_dataset(fb, gh, dt_float(8), (len(data),), (1024,), 8,
                              lambda c: struct.pack('<d', data[c[0]]),
                              enc_attrs(gh, 'array', '0.2.0'))
    ind_ds = chunked_dataset(fb, gh, dt_fixed(4), (len(indices),), (1024,), 4,
                             lambda c: struct.pack('<i', indices[c[0]]),
                             enc_attrs(gh, 'array', '0.2.0'))
    ptr_raw = b''.join(struct.pack('<q', p) for p in indptr)
    ptr_ds = contiguous_dataset(fb, gh, dt_fixed(8), (len(indptr),), ptr_raw,
                                enc_attrs(gh, 'array', '0.2.0'))
    return group(fb, gh, {'data': data_ds, 'indices': ind_ds, 'indptr': ptr_ds},
                 enc_attrs(gh, 'csr_matrix', '0.1.0')
                 + [int64_array_attr('shape', [n_rows, n_cols])])


# obsm/X_pca[i,k] = ((i*43 + k*3) % 31) * 0.5  (4 dims)
# layers/scaled[i,j] = X[i,j] + 0.5
def write_dense(path, n_obs, n_var, chunk, aux=False):
    fb = FileBuf()
    gh = GHeapPool(fb)
    obs = obs_group(fb, gh, n_obs)
    var = var_group(fb, gh, n_var)
    x = chunked_dataset(fb, gh, dt_float(8), (n_obs, n_var), chunk, 8,
                        lambda c: struct.pack('<d', xval(c[0], c[1])),
                        enc_attrs(gh, 'array', '0.2.0'))
    links = {'X': x, 'obs': obs, 'var': var}
    if aux:
        pca = chunked_dataset(fb, gh, dt_float(8), (n_obs, 4), (128, 4), 8,
                              lambda c: struct.pack(
                                  '<d', ((c[0] * 43 + c[1] * 3) % 31) * 0.5),
                              enc_attrs(gh, 'array', '0.2.0'))
        links['obsm'] = group(fb, gh, {'X_pca': pca}, enc_attrs(gh, 'dict', '0.1.0'))
        scaled = chunked_dataset(fb, gh, dt_float(8), (n_obs, n_var), chunk, 8,
                                 lambda c: struct.pack(
                                     '<d', xval(c[0], c[1]) + 0.5),
                                 enc_attrs(gh, 'array', '0.2.0'))
        links['layers'] = group(fb, gh, {'scaled': scaled},
                                enc_attrs(gh, 'dict', '0.1.0'))
        # varm/PCs[j,k] = ((j*13 + k*7) % 41) * 0.5  (n_var x 6 dense)
        pcs = chunked_dataset(fb, gh, dt_float(8), (n_var, 6), (n_var, 6), 8,
                              lambda c: struct.pack(
                                  '<d', ((c[0] * 13 + c[1] * 7) % 41) * 0.5),
                              enc_attrs(gh, 'array', '0.2.0'))
        links['varm'] = group(fb, gh, {'PCs': pcs}, enc_attrs(gh, 'dict', '0.1.0'))
        # obsp/connectivities: csr n_obs x n_obs,
        #   mask (i*3 + j*11) % 97 == 0, value ((i+j) % 13) * 0.5
        conn = csr_group(fb, gh, n_obs, n_obs,
                         lambda i, j: (i * 3 + j * 11) % 97 == 0,
                         lambda i, j: ((i + j) % 13) * 0.5)
        links['obsp'] = group(fb, gh, {'connectivities': conn},
                              enc_attrs(gh, 'dict', '0.1.0'))
        # uns: string scalar, int scalar, f8 array, nested dict
        #   rank_scores[k] = (k*k % 17) * 0.5, k < 10
        params = group(fb, gh, {'alpha': scalar_f8(fb, gh, 0.75),
                                'method': scalar_str(fb, gh, 'lognorm')},
                       enc_attrs(gh, 'dict', '0.1.0'))
        rank = contiguous_dataset(
            fb, gh, dt_float(8), (10,),
            b''.join(struct.pack('<d', (k * k % 17) * 0.5) for k in range(10)),
            enc_attrs(gh, 'array', '0.2.0'))
        links['uns'] = group(fb, gh, {'version': scalar_str(fb, gh, 'v1.2.3'),
                                      'n_bins': scalar_i8(fb, gh, 42),
                                      'params': params, 'rank_scores': rank},
                             enc_attrs(gh, 'dict', '0.1.0'))
        # raw: pre-filter state — 50 vars, csr X
        #   mask (i*3 + j*7) % 5 == 0, value ((i*7 + j*11) % 23) * 0.5
        raw_var = var_group(fb, gh, 50)
        raw_x = csr_group(fb, gh, n_obs, 50,
                          lambda i, j: (i * 3 + j * 7) % 5 == 0,
                          lambda i, j: ((i * 7 + j * 11) % 23) * 0.5)
        links['raw'] = group(fb, gh, {'X': raw_x, 'var': raw_var},
                             enc_attrs(gh, 'raw', '0.1.0'))
    root = group(fb, gh, links, enc_attrs(gh, 'anndata', '0.1.0'))
    finish(fb, root, path)


def write_csr(path, n_obs, n_var):
    fb = FileBuf()
    gh = GHeapPool(fb)
    obs = obs_group(fb, gh, n_obs)
    var = var_group(fb, gh, n_var)
    data, indices, indptr = [], [], [0]
    for i in range(n_obs):
        for j in range(n_var):
            if (i * 7 + j * 13) % 5 == 0:
                data.append(xval(i, j))
                indices.append(j)
        indptr.append(len(data))
    data_ds = chunked_dataset(fb, gh, dt_float(8), (len(data),), (1024,), 8,
                              lambda c: struct.pack('<d', data[c[0]]),
                              enc_attrs(gh, 'array', '0.2.0'))
    ind_ds = chunked_dataset(fb, gh, dt_fixed(4), (len(indices),), (1024,), 4,
                             lambda c: struct.pack('<i', indices[c[0]]),
                             enc_attrs(gh, 'array', '0.2.0'))
    ptr_raw = b''.join(struct.pack('<q', p) for p in indptr)
    ptr_ds = contiguous_dataset(fb, gh, dt_fixed(8), (len(indptr),), ptr_raw,
                                enc_attrs(gh, 'array', '0.2.0'))
    x = group(fb, gh, {'data': data_ds, 'indices': ind_ds, 'indptr': ptr_ds},
              enc_attrs(gh, 'csr_matrix', '0.1.0')
              + [int64_array_attr('shape', [n_obs, n_var])])
    root = group(fb, gh, {'X': x, 'obs': obs, 'var': var},
                 enc_attrs(gh, 'anndata', '0.1.0'))
    finish(fb, root, path)


def write_h5mu(path, n_obs):
    """MuData container (public mudata spec): per-modality anndata groups
    under mod/, global obs/var at root. rna X uses xval; adt X uses
    ((i*19 + j*23) % 89) * 0.5 (both closed-form for the oracle)."""
    fb = FileBuf()
    gh = GHeapPool(fb)

    def modality(n_var, val):
        mobs = obs_group(fb, gh, n_obs)
        mvar = var_group(fb, gh, n_var)
        x = chunked_dataset(fb, gh, dt_float(8), (n_obs, n_var), (64, 16), 8,
                            lambda c: struct.pack('<d', val(c[0], c[1])),
                            enc_attrs(gh, 'array', '0.2.0'))
        return group(fb, gh, {'X': x, 'obs': mobs, 'var': mvar},
                     enc_attrs(gh, 'anndata', '0.1.0'))

    rna = modality(40, xval)
    adt = modality(10, lambda i, j: ((i * 19 + j * 23) % 89) * 0.5)
    mod = group(fb, gh, {'rna': rna, 'adt': adt}, [])
    obs = obs_group(fb, gh, n_obs)
    var = var_group(fb, gh, 8)
    root = group(fb, gh, {'mod': mod, 'obs': obs, 'var': var},
                 enc_attrs(gh, 'MuData', '0.1.0'))
    finish(fb, root, path)


def compact_dataset(fb, gh, dtbytes, dims, raw, attrs):
    """Compact layout: the raw bytes live inside the layout message."""
    layout = struct.pack('<BBH', 3, 0, len(raw)) + raw
    msgs = [(0x0001, dataspace(dims)), (0x0003, dtbytes), (0x0008, layout)]
    msgs += attr_msgs(gh, attrs)
    return object_header(fb, msgs)


# contiguous.h5ad — the non-chunked layouts and narrow element types h5py
# emits by default (closed forms mirrored by H5Spec):
#   X[i,j]               = xval(i, j)                 (contiguous f8)
#   layers/counts[i,j]   = ((i*5 + j*3) % 11) - 5     (i2, chunked 16x5)
#   layers/sparse        = csr, mask (i*7 + j*13) % 5 == 0,
#                          value ((i + 2*j) % 9) - 4  (i4 data contiguous,
#                          i2 indices chunked, i4 indptr)
#   obsm/X_umap[i,k]     = ((i*3 + k) % 7) * 0.5      (compact f4, 2 dims)
def write_contiguous(path, n_obs, n_var):
    fb = FileBuf()
    gh = GHeapPool(fb)
    obs = obs_group(fb, gh, n_obs)
    var = var_group(fb, gh, n_var)
    x_raw = b''.join(struct.pack('<d', xval(i, j))
                     for i in range(n_obs) for j in range(n_var))
    x = contiguous_dataset(fb, gh, dt_float(8), (n_obs, n_var), x_raw,
                           enc_attrs(gh, 'array', '0.2.0'))
    counts = chunked_dataset(fb, gh, dt_fixed(2), (n_obs, n_var), (16, 5), 2,
                             lambda c: struct.pack(
                                 '<h', ((c[0] * 5 + c[1] * 3) % 11) - 5),
                             enc_attrs(gh, 'array', '0.2.0'))
    data, indices, indptr = [], [], [0]
    for i in range(n_obs):
        for j in range(n_var):
            if (i * 7 + j * 13) % 5 == 0:
                data.append(((i + 2 * j) % 9) - 4)
                indices.append(j)
        indptr.append(len(data))
    data_ds = contiguous_dataset(fb, gh, dt_fixed(4), (len(data),),
                                 b''.join(struct.pack('<i', v) for v in data),
                                 enc_attrs(gh, 'array', '0.2.0'))
    ind_ds = chunked_dataset(fb, gh, dt_fixed(2), (len(indices),), (32,), 2,
                             lambda c: struct.pack('<h', indices[c[0]]),
                             enc_attrs(gh, 'array', '0.2.0'))
    ptr_ds = contiguous_dataset(fb, gh, dt_fixed(4), (len(indptr),),
                                b''.join(struct.pack('<i', p) for p in indptr),
                                enc_attrs(gh, 'array', '0.2.0'))
    sparse = group(fb, gh, {'data': data_ds, 'indices': ind_ds, 'indptr': ptr_ds},
                   enc_attrs(gh, 'csr_matrix', '0.1.0')
                   + [int64_array_attr('shape', [n_obs, n_var])])
    layers = group(fb, gh, {'counts': counts, 'sparse': sparse},
                   enc_attrs(gh, 'dict', '0.1.0'))
    umap_raw = b''.join(struct.pack('<f', ((i * 3 + k) % 7) * 0.5)
                        for i in range(n_obs) for k in range(2))
    umap = compact_dataset(fb, gh, dt_float(4), (n_obs, 2), umap_raw,
                           enc_attrs(gh, 'array', '0.2.0'))
    obsm = group(fb, gh, {'X_umap': umap}, enc_attrs(gh, 'dict', '0.1.0'))
    root = group(fb, gh, {'X': x, 'obs': obs, 'var': var, 'layers': layers,
                          'obsm': obsm}, enc_attrs(gh, 'anndata', '0.1.0'))
    finish(fb, root, path)


def main():
    global LATEST
    out = sys.argv[1] if len(sys.argv) > 1 else 'fixtures/h5ad'
    os.makedirs(out, exist_ok=True)
    write_dense(os.path.join(out, 'dense.h5ad'), 300, 40, (64, 16), aux=True)
    write_csr(os.path.join(out, 'sparse.h5ad'), 300, 40)
    # bench-scale tier: 20k x 256 dense, 40 chunks (512, 256)
    write_dense(os.path.join(out, 'bench.h5ad'), 20000, 256, (512, 256))
    write_h5mu(os.path.join(out, 'mu.h5mu'), 300)
    # same logical content as dense.h5ad in the h5py libver="latest"
    # layout: superblock v3, OHDR v2 headers, compact link-message groups
    LATEST = True
    write_dense(os.path.join(out, 'latest.h5ad'), 300, 40, (64, 16))
    LATEST = False
    write_contiguous(os.path.join(out, 'contiguous.h5ad'), 50, 12)


if __name__ == '__main__':
    main()
