#!/usr/bin/env python3
"""Independent validator for the engine's hand-encoded HDF5 layout-v4
fixture (/tmp/graft_h5v4_fixture_v2.nc, written by
graft.harness.Hdf5V4Fixture via gates.CatalogScanGates.ensureHdf5V4Fixture).

This is a THIRD implementation of the relevant subset of the public HDF5
File Format Specification v3.0 — independent of both the Scala encoder
and the Scala parser — so an encoder/decoder matched bug pair cannot
survive it. It walks superblock v2 -> root OHDR v2 links -> per-dataset
dataspace/datatype/layout, resolves the three v4 chunk index structures
the fixture uses (extensible array, paged fixed array, v2 b-tree record
type 10), reads every chunk, and asserts the closed-form value formulas
the fixture documents:

  ea  [18] chunk [2], extensible array: value(i) = i
  fap [10] chunk [2], paged fixed array, page 1 unwritten:
      values at coords {0,1,2,3,8,9} = coord; coords 4..7 absent
  bt  [4,4] chunk [2,2], v2 b-tree recs type 10:
      value(r,c) = ((r//2)*2 + c//2)*100 + (r%2)*2 + c%2

Driver-side only (not shipped in the library). Usage:
  python3 scripts/h5v4_check.py [path]
"""
import struct
import sys

UNDEF = 0xFFFFFFFFFFFFFFFF


class F(object):
    def __init__(self, path):
        self.b = open(path, 'rb').read()

    def u(self, o, n):
        return int.from_bytes(self.b[o:o + n], 'little')

    def sig(self, o):
        return self.b[o:o + 4].decode('ascii', 'replace')

    # superblock v2: sig(8) ver(1) so(1) sl(1) flags(1) base(8) ext(8)
    # eof(8) root(8) csum(4)
    def root(self):
        assert self.b[:8] == b'\x89HDF\r\n\x1a\n', 'bad signature'
        assert self.b[8] == 2, 'expected superblock v2'
        assert self.b[9] == 8 and self.b[10] == 8
        return self.u(12 + 3 * 8, 8)

    # OHDR v2, flags=0: sig(4) ver(1) flags(1) size0(1) msgs csum(4)
    def messages(self, addr):
        assert self.sig(addr) == 'OHDR', 'bad OHDR at %d' % addr
        assert self.b[addr + 4] == 2
        flags = self.b[addr + 5]
        assert flags == 0, 'fixture writes flags=0 OHDRs'
        size0 = self.b[addr + 6]
        p, end, out = addr + 7, addr + 7 + size0, []
        while end - p >= 4:
            mtype, msize = self.b[p], self.u(p + 1, 2)
            out.append((mtype, p + 4, msize))
            p += 4 + msize
        return out

    # link message v1 flags=0: ver(1) flags(1) nlen(1) name addr(8)
    def links(self, addr):
        out = []
        for (t, o, n) in self.messages(addr):
            if t != 0x06:
                continue
            assert self.b[o] == 1 and self.b[o + 1] == 0
            nlen = self.b[o + 2]
            name = self.b[o + 3:o + 3 + nlen].decode('utf-8')
            out.append((name, self.u(o + 3 + nlen, 8)))
        return out

    def dataset(self, addr):
        sp = dt = lo = None
        for (t, o, n) in self.messages(addr):
            if t == 0x01:
                assert self.b[o] == 2, 'dataspace v2 expected'
                rank = self.b[o + 1]
                sp = [self.u(o + 4 + 8 * i, 8) for i in range(rank)]
            elif t == 0x03:
                assert self.b[o] & 0x0F == 0, 'fixed-point expected'
                assert self.u(o + 4, 4) == 4, 'int32 expected'
                dt = 4
            elif t == 0x08:
                lo = o
        return sp, dt, lo

    # layout v4 chunked: ver(1) cls(1) flags(1) ndims(1) enc(1) dims idx(1)
    # cfg addr(8). As in v3, ndims = rank + 1 and the LAST dimension entry
    # is the datatype's element size (the HDF5 C library encodes the same
    # u.chunk.ndims it uses for v3).
    def layout_v4(self, o):
        assert self.b[o] == 4 and self.b[o + 1] == 2
        ndims, enc = self.b[o + 3], self.b[o + 4]
        assert ndims >= 2, 'v4 ndims must be rank+1'
        dims = [self.u(o + 5 + enc * i, enc) for i in range(ndims)]
        assert dims[-1] == 4, 'trailing entry must be the int32 element size'
        p = o + 5 + enc * ndims
        itype = self.b[p]
        p += 1
        skip = {1: 0, 2: 0, 3: 1, 4: 5, 5: 6}[itype]
        return itype, dims[:-1], self.u(p + skip, 8)

    # ---- index structures ----

    def fixed_array(self, hdr):
        assert self.sig(hdr) == 'FAHD'
        client, esize, pbits = self.b[hdr + 5], self.b[hdr + 6], self.b[hdr + 7]
        nelmts, db = self.u(hdr + 8, 8), self.u(hdr + 16, 8)
        assert client == 0 and esize == 8, 'fixture uses bare addresses'
        assert self.sig(db) == 'FADB'
        page_n = 1 << pbits
        out = {}
        if nelmts <= page_n:
            for i in range(nelmts):
                a = self.u(db + 14 + 8 * i, 8)
                if a != UNDEF:
                    out[i] = a
        else:
            npages = (nelmts + page_n - 1) // page_n
            bmp = self.b[db + 14: db + 14 + (npages + 7) // 8]
            pages_at = db + 14 + (npages + 7) // 8 + 4
            for pg in range(npages):
                if not (bmp[pg // 8] >> (pg % 8)) & 1:
                    continue
                count = min(page_n, nelmts - pg * page_n)
                base = pages_at + pg * (page_n * 8 + 4)
                for i in range(count):
                    a = self.u(base + 8 * i, 8)
                    if a != UNDEF:
                        out[pg * page_n + i] = a
        return out

    def extensible_array(self, hdr):
        assert self.sig(hdr) == 'EAHD'
        client, esize = self.b[hdr + 5], self.b[hdr + 6]
        max_bits, idx_elmts = self.b[hdr + 7], self.b[hdr + 8]
        min_elmts, min_ptrs, pbits = self.b[hdr + 9], self.b[hdr + 10], self.b[hdr + 11]
        assert client == 0 and esize == 8
        max_idx_set = self.u(hdr + 12 + 4 * 8, 8)
        iblk = self.u(hdr + 12 + 6 * 8, 8)
        assert self.sig(iblk) == 'EAIB'
        off_sz = (max_bits + 7) // 8
        nsblks = 1 + max_bits - (min_elmts.bit_length() - 1)
        sblk_first = 2 * (min_ptrs.bit_length() - 1)
        n_direct = 2 * (min_ptrs - 1)
        sblk = []
        si = sd = 0
        for u in range(nsblks):
            nd, dn = 1 << (u // 2), (1 << ((u + 1) // 2)) * min_elmts
            sblk.append((nd, dn, si, sd))
            si += nd * dn
            sd += nd
        out = {}
        for i in range(min(idx_elmts, max_idx_set)):
            a = self.u(iblk + 14 + 8 * i, 8)
            if a != UNDEF:
                out[i] = a
        dblk_at = iblk + 14 + 8 * idx_elmts
        sblk_at = dblk_at + 8 * n_direct

        def data_block(db, start, n):
            if db == UNDEF:
                return
            assert self.sig(db) == 'EADB'
            at = db + 14 + off_sz
            for i in range(min(n, max(0, max_idx_set - start))):
                a = self.u(at + 8 * i, 8)
                if a != UNDEF:
                    out[start + i] = a

        for u in range(min(sblk_first, nsblks)):
            nd, dn, si, sd = sblk[u]
            for d in range(nd):
                data_block(self.u(dblk_at + 8 * (sd + d), 8),
                           idx_elmts + si + d * dn, dn)
        for u in range(sblk_first, nsblks):
            sb = self.u(sblk_at + 8 * (u - sblk_first), 8)
            if sb == UNDEF:
                continue
            assert self.sig(sb) == 'EASB'
            nd, dn, si, sd = sblk[u]
            at = sb + 14 + off_sz
            for d in range(nd):
                data_block(self.u(at + 8 * d, 8), idx_elmts + si + d * dn, dn)
        return out

    def btree2_t10(self, hdr, rank):
        assert self.sig(hdr) == 'BTHD'
        assert self.b[hdr + 5] == 10, 'record type 10 expected'
        rec_size = self.u(hdr + 10, 2)
        depth = self.u(hdr + 12, 2)
        assert depth == 0, 'fixture writes depth-0 trees'
        root = self.u(hdr + 16, 8)
        nrec = self.u(hdr + 24, 2)
        assert self.sig(root) == 'BTLF'
        out = {}
        for i in range(nrec):
            o = root + 6 + i * rec_size
            addr = self.u(o, 8)
            scaled = tuple(self.u(o + 8 + 8 * d, 8) for d in range(rank))
            out[scaled] = addr
        return out


def main(path):
    f = F(path)
    names = dict(f.links(f.root()))
    assert set(names) == {'ea', 'fap', 'bt'}, names

    # ea: extensible array, value(i) = i over [18] chunk [2]
    sp, dt, lo = f.dataset(names['ea'])
    itype, cd, addr = f.layout_v4(lo)
    assert sp == [18] and cd == [2] and itype == 4, (sp, cd, itype)
    elems = f.extensible_array(addr)
    assert sorted(elems) == list(range(9)), sorted(elems)
    for k, a in elems.items():
        v0, v1 = struct.unpack_from('<ii', f.b, a)
        assert (v0, v1) == (2 * k, 2 * k + 1), (k, v0, v1)

    # fap: paged fixed array, page 1 unwritten
    sp, dt, lo = f.dataset(names['fap'])
    itype, cd, addr = f.layout_v4(lo)
    assert sp == [10] and cd == [2] and itype == 3, (sp, cd, itype)
    elems = f.fixed_array(addr)
    assert sorted(elems) == [0, 1, 4], sorted(elems)
    for k, a in elems.items():
        v0, v1 = struct.unpack_from('<ii', f.b, a)
        assert (v0, v1) == (2 * k, 2 * k + 1), (k, v0, v1)

    # bt: v2 b-tree record type 10 over [4,4] chunk [2,2]
    sp, dt, lo = f.dataset(names['bt'])
    itype, cd, addr = f.layout_v4(lo)
    assert sp == [4, 4] and cd == [2, 2] and itype == 5, (sp, cd, itype)
    recs = f.btree2_t10(addr, 2)
    assert sorted(recs) == [(0, 0), (0, 1), (1, 0), (1, 1)], sorted(recs)
    for (sr, sc), a in recs.items():
        k = sr * 2 + sc
        vals = struct.unpack_from('<4i', f.b, a)
        assert vals == tuple(k * 100 + i for i in range(4)), (sr, sc, vals)

    print('h5v4_check: ea(9 chunks) fap(3 chunks, page 1 fill) bt(4 recs) all OK')


if __name__ == '__main__':
    main(sys.argv[1] if len(sys.argv) > 1 else '/tmp/graft_h5v4_fixture_v2.nc')
