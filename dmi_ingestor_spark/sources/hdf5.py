"""Pure-Python HDF5 (NetCDF-4 container) codec (SURVEY.md §2.1 S2).

The reference ingests whatever the DMI EDR API returns and decodes it
at ``dmi_ingestor/ingestor.py:200``; for current collections that is
NetCDF-4, i.e. an HDF5 container. This module is the decoder for it: it
implements the subset of the public HDF5 File Format Specification
(version 3, hdfgroup.org) that libnetcdf-written forecast cubes
actually use:

reader (``parse_hdf5_cube``)
    * superblock v0/v1 (symbol-table root) and v2/v3 (root object
      header address)
    * version-1 and version-2 object headers, incl. continuation blocks
    * old-style groups (B-tree v1 + SNOD + local heap), compact
      groups (Link messages), and DENSE "new style" groups (Link Info
      -> fractal heap of link messages + v2 B-tree name index — the
      storage libhdf5 switches to past max_compact links per group)
    * dataspace v1/v2; fixed-point / IEEE-float datatypes (either
      byte order); attribute v1/v3 (numeric + fixed string payloads,
      best-effort on anything exotic)
    * data layout v3: contiguous and chunked (B-tree v1 chunk index)
    * filter pipeline v1/v2: deflate (zlib) and shuffle
    * netCDF conventions through ``sources/cf.py``, the same rules
      the classic reader applies

writer (``encode_hdf5_cube``)
    * ``layout="classic"`` (default): exactly what libhdf5 writes by
      default — superblock v0, symbol-table root group, v1 object
      headers, contiguous coordinate variables, chunked+
      deflate(+shuffle) data variable
    * ``layout="latest"``: the H5F_LIBVER_LATEST container — Jenkins
      lookup3-checksummed superblock v3 and v2 object headers, v2
      dataspaces, v3 attributes, filter pipeline v2, and a compact
      root group of Link messages — or, with ``dense_root=True``, a
      DENSE root group (FRHP fractal heap + BTHD/BTLF name index)
    so the reader's production paths for BOTH container generations
    (B-tree walk, chunk reassembly, filter undo, link-message groups)
    are exercised end to end by tests without the C stack.

Scope mirrors ``sources/netcdf3.py``: one (time, y, x) float data
variable plus 1-D coordinate variables named time / y / x (or
lat / lon). Deeper group trees, vlen types, szip, filtered/huge/tiny
fractal-heap objects, and multi-level v2 B-trees are out of scope and
raise with a clear message.
"""

from __future__ import annotations

import struct
import zlib
from dataclasses import dataclass, field

import numpy as np

from dmi_ingestor_spark.sources.cf import CF_ATTRS, cf_decode

MAGIC = b"\x89HDF\r\n\x1a\n"
_UNDEF = 0xFFFFFFFFFFFFFFFF


# ===========================================================================
# Reader
# ===========================================================================


class Hdf5Error(ValueError):
    pass


@dataclass
class _Dataset:
    name: str
    shape: tuple[int, ...] = ()
    dtype: np.dtype | None = None
    layout_class: int | None = None  # 1 contiguous, 2 chunked
    data_addr: int = _UNDEF
    data_size: int = 0
    chunk_dims: tuple[int, ...] = ()
    chunk_btree: int = _UNDEF
    filters: list[tuple[int, tuple[int, ...]]] = field(default_factory=list)
    attrs: dict[str, object] = field(default_factory=dict)


class _Reader:
    def __init__(self, buf: bytes):
        self.buf = buf
        if buf[:8] != MAGIC:
            raise Hdf5Error(f"not an HDF5 payload: magic {buf[:8]!r}")

    # -- primitives ---------------------------------------------------------

    def u(self, off: int, n: int) -> int:
        return int.from_bytes(self.buf[off : off + n], "little")

    # -- superblock ---------------------------------------------------------

    def root_header_addr(self) -> int:
        v = self.buf[8]
        if v in (0, 1):
            if self.buf[13] != 8 or self.buf[14] != 8:
                raise Hdf5Error("only 8-byte offsets/lengths supported")
            # v0: sym-table entry at 24 + 4*8 = 56 ; v1 adds 4 bytes
            entry = 56 if v == 0 else 60
            return self.u(entry + 8, 8)  # object header address
        if v in (2, 3):
            if self.buf[9] != 8 or self.buf[10] != 8:
                raise Hdf5Error("only 8-byte offsets/lengths supported")
            return self.u(12 + 8 * 3, 8)  # root group object header addr
        raise Hdf5Error(f"unsupported superblock version {v}")

    # -- object headers -----------------------------------------------------

    def messages(self, addr: int) -> list[tuple[int, bytes, int]]:
        """All (type, body, body_offset) messages of the object header at
        ``addr``, following continuation blocks; v1 and v2 headers."""
        if self.buf[addr : addr + 4] == b"OHDR":
            return self._messages_v2(addr)
        return self._messages_v1(addr)

    def _messages_v1(self, addr: int) -> list[tuple[int, bytes, int]]:
        if self.buf[addr] != 1:
            raise Hdf5Error(f"unsupported object header version {self.buf[addr]}")
        nmsg = self.u(addr + 2, 2)
        hsize = self.u(addr + 8, 4)
        out: list[tuple[int, bytes, int]] = []
        blocks = [(addr + 16, hsize)]  # prefix 12 bytes + 4 pad
        while blocks and len(out) < nmsg:
            off, remaining = blocks.pop(0)
            while remaining >= 8 and len(out) < nmsg:
                mtype = self.u(off, 2)
                msize = self.u(off + 2, 2)
                body_off = off + 8
                body = self.buf[body_off : body_off + msize]
                off += 8 + msize
                remaining -= 8 + msize
                if mtype == 0x10:  # continuation: offset(8) + length(8)
                    cont_off = int.from_bytes(body[0:8], "little")
                    cont_len = int.from_bytes(body[8:16], "little")
                    blocks.append((cont_off, cont_len))
                    continue
                out.append((mtype, body, body_off))
        return out

    def _messages_v2(self, addr: int) -> list[tuple[int, bytes, int]]:
        flags = self.buf[addr + 5]
        off = addr + 6
        if flags & 0x20:  # access/mod/change/birth times
            off += 16
        if flags & 0x10:  # max compact / min dense attributes
            off += 4
        size_of_chunk0 = 1 << (flags & 0x3)
        chunk0 = self.u(off, size_of_chunk0)
        off += size_of_chunk0
        tracked = bool(flags & 0x04)
        out: list[tuple[int, bytes, int]] = []
        blocks = [(off, chunk0)]
        while blocks:
            boff, blen = blocks.pop(0)
            end = boff + blen
            while boff + 4 <= end:
                mtype = self.buf[boff]
                msize = self.u(boff + 1, 2)
                boff += 4
                if tracked:
                    boff += 2
                body_off = boff
                body = self.buf[body_off : body_off + msize]
                boff += msize
                if mtype == 0x10:
                    cont_off = int.from_bytes(body[0:8], "little")
                    cont_len = int.from_bytes(body[8:16], "little")
                    # v2 continuation blocks carry OCHK signature + 4-byte
                    # trailing checksum
                    blocks.append((cont_off + 4, cont_len - 8))
                    continue
                out.append((mtype, body, body_off))
        return out

    # -- group traversal ----------------------------------------------------

    def root_datasets(self) -> dict[str, _Dataset]:
        addr = self.root_header_addr()
        links = self._group_links(addr)
        out: dict[str, _Dataset] = {}
        for name, child_addr in links.items():
            msgs = self.messages(child_addr)
            types = {t for t, _, _ in msgs}
            if 0x11 in types or 0x02 in types or 0x06 in types:
                continue  # sub-group: out of cube scope
            out[name] = self._parse_dataset(name, msgs)
        return out

    def _group_links(self, header_addr: int) -> dict[str, int]:
        links: dict[str, int] = {}
        for mtype, body, _ in self.messages(header_addr):
            if mtype == 0x11:  # symbol table: btree + heap
                btree = int.from_bytes(body[0:8], "little")
                heap = int.from_bytes(body[8:16], "little")
                self._walk_group_btree(btree, heap, links)
            elif mtype == 0x06:  # link message (compact group)
                name, target = self._parse_link(body)
                if target is not None:
                    links[name] = target
            elif mtype == 0x02:  # link info (dense group)
                self._read_dense_links(body, links)
        return links

    # -- dense ("new style") groups: fractal heap + v2 B-tree ----------------

    def _read_dense_links(self, body: bytes, links: dict[str, int]) -> None:
        """Link Info message: when the group's links are DENSE (stored
        in a fractal heap indexed by a v2 B-tree on name hash), walk
        the name index and pull each serialized link message out of
        the heap. libhdf5 switches to this layout past max_compact
        (default 8) links per group in 1.8+ files."""
        if body[0] != 0:
            raise Hdf5Error(f"unsupported link info version {body[0]}")
        flags = body[1]
        off = 2 + (8 if flags & 0x1 else 0)
        heap_addr = int.from_bytes(body[off : off + 8], "little")
        btree_addr = int.from_bytes(body[off + 8 : off + 16], "little")
        if heap_addr == _UNDEF or btree_addr == _UNDEF:
            return  # links are compact (message 0x06) — nothing dense
        heap = self._parse_fractal_heap(heap_addr)
        for heap_id in self._v2_btree_records(btree_addr):
            name, target = self._parse_link(self._heap_object(heap, heap_id))
            if target is not None:
                links[name] = target

    def _parse_fractal_heap(self, addr: int) -> dict:
        if self.buf[addr : addr + 4] != b"FRHP":
            raise Hdf5Error("expected FRHP fractal heap header")
        if self.buf[addr + 4] != 0:
            raise Hdf5Error("unsupported fractal heap version")
        id_len = self.u(addr + 5, 2)
        filt_len = self.u(addr + 7, 2)
        if filt_len:
            raise Hdf5Error("filtered fractal heap blocks unsupported")
        flags = self.buf[addr + 9]
        managed_space = self.u(addr + 10 + 4 + 8 * 4, 8)
        # fixed midsection: max obj size(4) + 12 x 8-byte stat/addr fields
        o = addr + 10 + 4 + 8 * 12
        table_width = self.u(o, 2)
        start_block = self.u(o + 2, 8)
        max_direct = self.u(o + 10, 8)
        max_heap_bits = self.u(o + 18, 2)
        o += 20 + 2  # + starting # rows in root indirect block
        root_addr = self.u(o, 8)
        cur_rows = self.u(o + 8, 2)
        return {
            "offset_size": (max_heap_bits + 7) // 8,
            "length_size": id_len - 1 - (max_heap_bits + 7) // 8,
            "flags": flags,
            "table_width": table_width,
            "start_block": start_block,
            "max_direct": max_direct,
            "managed_space": managed_space,
            "root_addr": root_addr,
            "cur_rows": cur_rows,
        }

    def _heap_direct_blocks(self, heap: dict) -> list[tuple[int, int, int]]:
        """(heap_offset, file_addr, size) of every direct block."""
        if heap["cur_rows"] == 0:  # root IS a direct block
            # a direct root can grow past the starting size; its true
            # size is the heap's managed-space extent
            return [(0, heap["root_addr"], heap["managed_space"])]
        # root indirect block: rows of direct-block children, doubling
        # sizes per row pair (row 0 and 1 = start size, then x2 per row)
        addr = heap["root_addr"]
        if self.buf[addr : addr + 4] != b"FHIB":
            raise Hdf5Error("expected FHIB root indirect block")
        w = heap["table_width"]
        off = addr + 4 + 1 + 8 + heap["offset_size"]
        out = []
        heap_off = 0
        for row in range(heap["cur_rows"]):
            size = heap["start_block"] * (1 << max(0, row - 1))
            if size > heap["max_direct"]:
                raise Hdf5Error("nested indirect fractal-heap rows unsupported")
            for _ in range(w):
                child = self.u(off, 8)
                off += 8
                if child != _UNDEF:
                    out.append((heap_off, child, size))
                heap_off += size
        return out

    def _heap_object(self, heap: dict, heap_id: bytes) -> bytes:
        ver_type = heap_id[0]
        if (ver_type >> 4) & 0x3 != 0:
            raise Hdf5Error("only managed fractal-heap objects supported")
        osz, lsz = heap["offset_size"], heap["length_size"]
        obj_off = int.from_bytes(heap_id[1 : 1 + osz], "little")
        obj_len = int.from_bytes(heap_id[1 + osz : 1 + osz + lsz], "little")
        for block_off, file_addr, size in self._heap_direct_blocks(heap):
            if block_off <= obj_off < block_off + size:
                return self.buf[
                    file_addr
                    + (obj_off - block_off) : file_addr
                    + (obj_off - block_off)
                    + obj_len
                ]
        raise Hdf5Error(f"fractal-heap offset {obj_off} outside managed space")

    def _v2_btree_records(self, addr: int) -> list[bytes]:
        """Heap IDs from a v2 B-tree name index (record type 5/6: a
        4-byte name hash / 8-byte creation order, then the heap ID)."""
        if self.buf[addr : addr + 4] != b"BTHD":
            raise Hdf5Error("expected BTHD v2 B-tree header")
        rtype = self.buf[addr + 5]
        if rtype not in (5, 6):
            raise Hdf5Error(f"unsupported v2 B-tree record type {rtype}")
        rec_size = self.u(addr + 10, 2)
        depth = self.u(addr + 12, 2)
        root = self.u(addr + 16, 8)
        nrec = self.u(addr + 24, 2)
        if depth != 0:
            raise Hdf5Error("multi-level v2 B-trees unsupported")
        if self.buf[root : root + 4] != b"BTLF":
            raise Hdf5Error("expected BTLF v2 B-tree leaf")
        key_skip = 4 if rtype == 5 else 8
        out = []
        off = root + 6
        for _ in range(nrec):
            out.append(bytes(self.buf[off + key_skip : off + rec_size]))
            off += rec_size
        return out

    def _parse_link(self, body: bytes) -> tuple[str, int | None]:
        if body[0] != 1:
            raise Hdf5Error("unsupported link message version")
        flags = body[1]
        off = 2
        ltype = 0
        if flags & 0x08:
            ltype = body[off]
            off += 1
        if flags & 0x04:
            off += 8  # creation order
        if flags & 0x10:
            off += 1  # charset
        nlen_size = 1 << (flags & 0x3)
        nlen = int.from_bytes(body[off : off + nlen_size], "little")
        off += nlen_size
        name = body[off : off + nlen].decode()
        off += nlen
        if ltype != 0:
            return name, None  # soft/external link: skip
        return name, int.from_bytes(body[off : off + 8], "little")

    def _walk_group_btree(self, addr: int, heap: int, links: dict[str, int]) -> None:
        if self.buf[addr : addr + 4] != b"TREE":
            raise Hdf5Error("expected v1 B-tree node in group index")
        level = self.buf[addr + 5]
        nused = self.u(addr + 6, 2)
        off = addr + 8 + 16  # skip siblings
        off += 8  # key 0
        for _ in range(nused):
            child = self.u(off, 8)
            off += 16  # child + next key
            if level > 0:
                self._walk_group_btree(child, heap, links)
            else:
                self._read_snod(child, heap, links)

    def _read_snod(self, addr: int, heap: int, links: dict[str, int]) -> None:
        if self.buf[addr : addr + 4] != b"SNOD":
            raise Hdf5Error("expected SNOD symbol node")
        nsym = self.u(addr + 6, 2)
        heap_data = self._heap_data_addr(heap)
        off = addr + 8
        for _ in range(nsym):
            name_off = self.u(off, 8)
            ohdr = self.u(off + 8, 8)
            name = self._heap_string(heap_data, name_off)
            links[name] = ohdr
            off += 40

    def _heap_data_addr(self, heap: int) -> int:
        if self.buf[heap : heap + 4] != b"HEAP":
            raise Hdf5Error("expected local HEAP")
        return self.u(heap + 24, 8)

    def _heap_string(self, data_addr: int, off: int) -> str:
        start = data_addr + off
        end = self.buf.index(b"\0", start)
        return self.buf[start:end].decode()

    # -- dataset metadata ---------------------------------------------------

    def _parse_dataset(self, name: str, msgs) -> _Dataset:
        ds = _Dataset(name)
        for mtype, body, body_off in msgs:
            if mtype == 0x01:
                ds.shape = self._parse_dataspace(body)
            elif mtype == 0x03:
                ds.dtype = self._parse_datatype(body)
            elif mtype == 0x08:
                self._parse_layout(body, ds)
            elif mtype == 0x0B:
                ds.filters = self._parse_filters(body)
            elif mtype == 0x0C:
                name, value = self._parse_attribute(body)
                if value is not None:
                    ds.attrs[name] = value
        return ds

    def _parse_dataspace(self, body: bytes) -> tuple[int, ...]:
        version = body[0]
        rank = body[1]
        if version == 1:
            off = 8
        elif version == 2:
            off = 4
        else:
            raise Hdf5Error(f"unsupported dataspace version {version}")
        return tuple(
            int.from_bytes(body[off + 8 * i : off + 8 * i + 8], "little")
            for i in range(rank)
        )

    def _parse_datatype(self, body: bytes) -> np.dtype:
        cls = body[0] & 0x0F
        bits0 = body[1]
        size = int.from_bytes(body[4:8], "little")
        order = ">" if (bits0 & 1) else "<"
        if cls == 0:  # fixed-point
            kind = "i" if (bits0 & 0x08) else "u"
            return np.dtype(f"{order}{kind}{size}")
        if cls == 1:  # IEEE float
            return np.dtype(f"{order}f{size}")
        if cls == 3:  # fixed string
            return np.dtype(f"S{size}")
        raise Hdf5Error(f"unsupported datatype class {cls}")

    def _parse_layout(self, body: bytes, ds: _Dataset) -> None:
        version = body[0]
        if version != 3:
            raise Hdf5Error(f"unsupported data layout version {version}")
        ds.layout_class = body[1]
        if ds.layout_class == 1:  # contiguous
            ds.data_addr = int.from_bytes(body[2:10], "little")
            ds.data_size = int.from_bytes(body[10:18], "little")
        elif ds.layout_class == 2:  # chunked
            rank_plus = body[2]
            ds.chunk_btree = int.from_bytes(body[3:11], "little")
            dims = [
                int.from_bytes(body[11 + 4 * i : 15 + 4 * i], "little")
                for i in range(rank_plus)
            ]
            ds.chunk_dims = tuple(dims[:-1])  # last entry = element size
        elif ds.layout_class == 0:  # compact
            ds.data_size = int.from_bytes(body[2:4], "little")
            ds.data_addr = -1  # sentinel: inline (handled via body slice)
            ds.compact_data = body[4 : 4 + ds.data_size]  # type: ignore[attr-defined]
        else:
            raise Hdf5Error(f"unsupported layout class {ds.layout_class}")

    def _parse_filters(self, body: bytes) -> list[tuple[int, tuple[int, ...]]]:
        version = body[0]
        nf = body[1]
        off = 8 if version == 1 else 2
        out = []
        for _ in range(nf):
            fid = int.from_bytes(body[off : off + 2], "little")
            nlen = int.from_bytes(body[off + 2 : off + 4], "little")
            ncd = int.from_bytes(body[off + 6 : off + 8], "little")
            off += 8
            if version == 1 or fid >= 256:
                off += (nlen + 7) // 8 * 8 if version == 1 else nlen
            cd = tuple(
                int.from_bytes(body[off + 4 * i : off + 4 * i + 4], "little")
                for i in range(ncd)
            )
            off += 4 * ncd
            if version == 1 and ncd % 2 == 1:
                off += 4
            out.append((fid, cd))
        return out

    def _parse_attribute(self, body: bytes) -> tuple[str, object]:
        """``(name, value)`` of an attribute message.

        A value the reader cannot parse (say a variable-length string,
        or a shared datatype) comes back as ``None`` and the attribute
        is dropped, unless ``cf_decode`` reads it (``CF_ATTRS``): a cube
        decoded without its time units or its scaling would be wrong,
        so that raises."""
        version = body[0]
        if version not in (1, 2, 3):
            raise Hdf5Error(f"unsupported attribute version {version}")
        name_size, dt_size, sp_size = struct.unpack_from("<HHH", body, 2)
        off = 9 if version == 3 else 8  # v3: + name charset byte
        name = body[off : off + name_size].split(b"\0")[0].decode()
        # v1 pads the name, datatype and dataspace to 8 bytes; v2/v3 do not
        pad = (lambda n: (n + 7) // 8 * 8) if version == 1 else (lambda n: n)
        off += pad(name_size)
        dt_body = body[off : off + dt_size]
        off += pad(dt_size)
        sp_body = body[off : off + sp_size]
        off += pad(sp_size)
        try:
            if body[1] & 0x03:  # v2/v3 flags: shared datatype/dataspace
                raise Hdf5Error("shared attribute datatype or dataspace")
            dtype = self._parse_datatype(dt_body)
            shape = self._parse_dataspace(sp_body) if sp_body[1] else ()
            n = int(np.prod(shape)) if shape else 1
            raw = body[off : off + n * dtype.itemsize]
            if dtype.kind == "S":
                return name, raw.split(b"\0")[0].decode()
            arr = np.frombuffer(raw, dtype=dtype, count=n)
            return name, arr[0] if not shape else arr
        except Exception as exc:
            if name in CF_ATTRS:
                raise Hdf5Error(f"cannot parse attribute {name!r}: {exc}") from exc
            return name, None

    # -- data ---------------------------------------------------------------

    def read(self, ds: _Dataset) -> np.ndarray:
        if ds.dtype is None:
            raise Hdf5Error(f"dataset {ds.name!r} has no datatype")
        if ds.layout_class == 0:
            raw = ds.compact_data  # type: ignore[attr-defined]
            return np.frombuffer(raw, dtype=ds.dtype).reshape(ds.shape)
        if ds.layout_class == 1:
            if ds.data_addr == _UNDEF:
                return np.full(ds.shape, np.nan)
            raw = self.buf[ds.data_addr : ds.data_addr + ds.data_size]
            return np.frombuffer(raw, dtype=ds.dtype).reshape(ds.shape)
        if ds.layout_class == 2:
            return self._read_chunked(ds)
        raise Hdf5Error(f"unsupported layout class {ds.layout_class}")

    def _read_chunked(self, ds: _Dataset) -> np.ndarray:
        out = np.zeros(ds.shape, dtype=ds.dtype.newbyteorder("="))
        if ds.chunk_btree != _UNDEF:
            self._walk_chunk_btree(ds.chunk_btree, ds, out)
        return out

    def _walk_chunk_btree(self, addr: int, ds: _Dataset, out: np.ndarray) -> None:
        if self.buf[addr : addr + 4] != b"TREE":
            raise Hdf5Error("expected v1 B-tree node in chunk index")
        if self.buf[addr + 4] != 1:
            raise Hdf5Error("expected raw-data (type 1) chunk B-tree")
        level = self.buf[addr + 5]
        nused = self.u(addr + 6, 2)
        rank = len(ds.chunk_dims)
        key_size = 8 + 8 * (rank + 1)  # size(4)+mask(4) + offsets incl. elem dim
        off = addr + 8 + 16
        for _ in range(nused):
            chunk_size = self.u(off, 4)
            offsets = tuple(
                self.u(off + 8 + 8 * i, 8) for i in range(rank)
            )
            child = self.u(off + key_size, 8)
            if level > 0:
                self._walk_chunk_btree(child, ds, out)
            else:
                self._place_chunk(child, chunk_size, offsets, ds, out)
            off += key_size + 8
        # trailing key ignored

    def _place_chunk(
        self,
        addr: int,
        nbytes: int,
        offsets: tuple[int, ...],
        ds: _Dataset,
        out: np.ndarray,
    ) -> None:
        raw = bytes(self.buf[addr : addr + nbytes])
        for fid, cd in reversed(ds.filters):
            if fid == 1:  # deflate
                raw = zlib.decompress(raw)
            elif fid == 2:  # shuffle
                elem = cd[0] if cd else ds.dtype.itemsize
                arr = np.frombuffer(raw, dtype="u1").reshape(elem, -1)
                raw = arr.T.tobytes()
            elif fid == 3:  # fletcher32: 4-byte checksum suffix, unverified
                raw = raw[:-4]
            else:
                raise Hdf5Error(f"unsupported filter id {fid}")
        chunk = np.frombuffer(raw, dtype=ds.dtype).reshape(ds.chunk_dims)
        slices = []
        for dim, (o, c, full) in enumerate(zip(offsets, ds.chunk_dims, out.shape)):
            end = min(o + c, full)
            slices.append(slice(o, end))
            chunk = chunk.take(range(end - o), axis=dim)
        out[tuple(slices)] = chunk


# ===========================================================================
# Cube extraction (netCDF-4 conventions)
# ===========================================================================


def parse_hdf5_cube(payload: bytes) -> dict:
    """Decode an HDF5/NetCDF-4 forecast cube into the same dict shape
    ``sources/netcdf3.parse_netcdf3`` produces:
    ``{parameter, times, ys, xs, values}`` with values (time, y, x)
    float64."""
    r = _Reader(payload)
    dsets = r.root_datasets()

    y_name = "y" if "y" in dsets else "lat"
    x_name = "x" if "x" in dsets else "lon"
    coord_names = {"time", y_name, x_name, "crs", "projection"}
    data_vars = [
        d
        for n, d in dsets.items()
        if n not in coord_names and len(d.shape) == 3
    ]
    if "time" not in dsets or y_name not in dsets or x_name not in dsets:
        raise Hdf5Error(
            f"cube needs time/{y_name}/{x_name} coordinate datasets; "
            f"found {sorted(dsets)}"
        )
    if len(data_vars) != 1:
        raise Hdf5Error(
            f"expected exactly one 3-D data variable, found "
            f"{[d.name for d in data_vars]}"
        )
    var = data_vars[0]

    time_ds = dsets["time"]
    times, values = cf_decode(
        r.read(time_ds), time_ds.attrs, r.read(var), var.attrs
    )
    ys = [float(v) for v in r.read(dsets[y_name])]
    xs = [float(v) for v in r.read(dsets[x_name])]

    if values.shape != (len(times), len(ys), len(xs)):
        raise Hdf5Error(
            f"variable {var.name!r} shape {values.shape} does not match "
            f"(time={len(times)}, y={len(ys)}, x={len(xs)})"
        )
    return {
        "parameter": var.name,
        "times": times,
        "ys": ys,
        "xs": xs,
        "values": values,
    }


# ===========================================================================
# Writer (classic libhdf5 layout: fixture + parity path)
# ===========================================================================


def _f64_datatype() -> bytes:
    # class 1 (float) v1; LE, mantissa-normalization=implied, sign bit 63
    return (
        bytes([0x11, 0x20, 0x00, 0x3F])
        + struct.pack("<I", 8)
        + struct.pack("<HHBBBBI", 0, 64, 52, 11, 0, 52, 1023)
    )


def _i64_datatype() -> bytes:
    # class 0 (fixed) v1; LE, signed
    return bytes([0x10, 0x08, 0x00, 0x00]) + struct.pack("<I", 8) + struct.pack(
        "<HH", 0, 64
    )


def _str_datatype(n: int) -> bytes:
    # class 3 (string) v1; null-padded ASCII
    return bytes([0x13, 0x00, 0x00, 0x00]) + struct.pack("<I", n)


def _dataspace(shape: tuple[int, ...]) -> bytes:
    body = bytes([1, len(shape), 0, 0]) + b"\0" * 4
    for d in shape:
        body += struct.pack("<Q", d)
    return body


def _scalar_dataspace() -> bytes:
    return bytes([1, 0, 0, 0]) + b"\0" * 4


def _pad8(b: bytes) -> bytes:
    return b + b"\0" * (-len(b) % 8)


def _message(mtype: int, body: bytes) -> bytes:
    body = _pad8(body)
    return struct.pack("<HHB3x", mtype, len(body), 0) + body


def _attribute(name: str, dt: bytes, sp: bytes, data: bytes) -> bytes:
    nb = name.encode() + b"\0"
    body = struct.pack("<BBHHH", 1, 0, len(nb), len(dt), len(sp))
    body += _pad8(nb) + _pad8(dt) + _pad8(sp) + data
    return _message(0x0C, body)


def _string_attr(name: str, value: str) -> bytes:
    vb = value.encode()
    return _attribute(name, _str_datatype(len(vb)), _scalar_dataspace(), vb)


def _object_header_v1(messages: list[bytes]) -> bytes:
    payload = b"".join(messages)
    return (
        struct.pack("<BBHII4x", 1, 0, len(messages), 1, len(payload)) + payload
    )


# ---- "latest" (1.8+) metadata structures -----------------------------------


def _lookup3(data: bytes, init: int = 0) -> int:
    """Bob Jenkins lookup3 ``hashlittle`` — the checksum HDF5 stamps on
    v2/v3 superblocks, v2 object headers, and all 1.8+ metadata blocks
    (H5_checksum_lookup3 in the C library)."""
    mask = 0xFFFFFFFF

    def rot(x: int, k: int) -> int:
        return ((x << k) | (x >> (32 - k))) & mask

    length = len(data)
    a = b = c = (0xDEADBEEF + length + init) & mask
    i = 0
    while length > 12:
        a = (a + int.from_bytes(data[i : i + 4], "little")) & mask
        b = (b + int.from_bytes(data[i + 4 : i + 8], "little")) & mask
        c = (c + int.from_bytes(data[i + 8 : i + 12], "little")) & mask
        a = (a - c) & mask; a ^= rot(c, 4); c = (c + b) & mask
        b = (b - a) & mask; b ^= rot(a, 6); a = (a + c) & mask
        c = (c - b) & mask; c ^= rot(b, 8); b = (b + a) & mask
        a = (a - c) & mask; a ^= rot(c, 16); c = (c + b) & mask
        b = (b - a) & mask; b ^= rot(a, 19); a = (a + c) & mask
        c = (c - b) & mask; c ^= rot(b, 4); b = (b + a) & mask
        i += 12
        length -= 12
    tail = data[i:]
    if tail:
        t = tail + b"\0" * (12 - len(tail))
        a = (a + int.from_bytes(t[0:4], "little")) & mask
        b = (b + int.from_bytes(t[4:8], "little")) & mask
        c = (c + int.from_bytes(t[8:12], "little")) & mask
        c ^= b; c = (c - rot(b, 14)) & mask
        a ^= c; a = (a - rot(c, 11)) & mask
        b ^= a; b = (b - rot(a, 25)) & mask
        c ^= b; c = (c - rot(b, 16)) & mask
        a ^= c; a = (a - rot(c, 4)) & mask
        b ^= a; b = (b - rot(a, 14)) & mask
        c ^= b; c = (c - rot(b, 24)) & mask
    return c


def _message_v2(mtype: int, body: bytes) -> bytes:
    # v2 header message: type(1) size(2) flags(1) + body, no padding
    return struct.pack("<BHB", mtype, len(body), 0) + body


def _object_header_v2(messages: list[bytes]) -> bytes:
    payload = b"".join(messages)
    if len(payload) >= 1 << 16:
        raise ValueError("v2 object header chunk 0 too large")
    # flags: bits 0-1 = 01 -> 2-byte "size of chunk 0"; nothing tracked
    head = b"OHDR" + bytes([2, 0x01]) + struct.pack("<H", len(payload))
    body = head + payload
    return body + struct.pack("<I", _lookup3(body))


def _dataspace_v2(shape: tuple[int, ...]) -> bytes:
    # version 2: rank, flags, type (1 = simple)
    body = bytes([2, len(shape), 0, 1])
    for d in shape:
        body += struct.pack("<Q", d)
    return body


def _scalar_dataspace_v2() -> bytes:
    return bytes([2, 0, 0, 0])  # type 0 = scalar


def _attribute_v3(name: str, dt: bytes, sp: bytes, data: bytes) -> bytes:
    nb = name.encode() + b"\0"
    body = struct.pack("<BBHHHB", 3, 0, len(nb), len(dt), len(sp), 0)
    body += nb + dt + sp + data  # v3: nothing is padded
    return _message_v2(0x0C, body)


def _string_attr_v3(name: str, value: str) -> bytes:
    vb = value.encode()
    return _attribute_v3(name, _str_datatype(len(vb)), _scalar_dataspace_v2(), vb)


def _link_message(name: str, target: int) -> bytes:
    # version 1, flags 0: hard link, 1-byte name length, no extras
    nb = name.encode()
    body = bytes([1, 0, len(nb)]) + nb + struct.pack("<Q", target)
    return _message_v2(0x06, body)


def _link_body(name: str, target: int) -> bytes:
    nb = name.encode()
    return bytes([1, 0, len(nb)]) + nb + struct.pack("<Q", target)


# libhdf5 group-heap creation defaults (H5G_FHEAP_MAN_*): width 4,
# 512-byte starting block, 64 KiB max direct block, 32-bit heap offsets
_FH_WIDTH = 4
_FH_START_BLOCK = 512
_FH_MAX_DIRECT = 64 * 1024
_FH_MAX_HEAP_BITS = 32
_FH_ID_LEN = 1 + _FH_MAX_HEAP_BITS // 8 + 2  # flags + offset(4) + length(2)


def _write_dense_links(w: "_Writer", entries: list[tuple[str, int]]) -> bytes:
    """Write ``entries`` as DENSE link storage (fractal heap of link
    messages + v2 B-tree name index) and return the Link Info message
    pointing at both — the layout libhdf5 switches to past max_compact
    links per group."""
    # ---- fractal heap: one direct root block -------------------------------
    bodies = [_link_body(n, t) for n, t in entries]
    dblock_hdr = 4 + 1 + 8 + _FH_MAX_HEAP_BITS // 8  # sig+ver+heapaddr+offset
    need = dblock_hdr + sum(len(b) for b in bodies)
    block_size = _FH_START_BLOCK
    while block_size < need:
        block_size *= 2
    if block_size > _FH_MAX_DIRECT:
        raise ValueError("too many links for a single direct block")
    w.align()
    heap_hdr_addr_guess = None  # patched below: block references header
    dblock_addr = w.size
    heap_ids = []
    pos = dblock_hdr
    data = bytearray()
    for b in bodies:
        heap_ids.append(
            bytes([0])  # managed object, version 0
            + pos.to_bytes(_FH_MAX_HEAP_BITS // 8, "little")
            + len(b).to_bytes(2, "little")
        )
        data += b
        pos += len(b)
    free = block_size - pos
    # header follows the block; compute its address now for the back-pointer
    heap_hdr_addr_guess = dblock_addr + block_size
    dblock = (
        b"FHDB"
        + bytes([0])
        + struct.pack("<Q", heap_hdr_addr_guess)
        + (0).to_bytes(_FH_MAX_HEAP_BITS // 8, "little")
        + bytes(data)
        + b"\0" * free
    )
    w.append(dblock)

    hdr = bytearray()
    hdr += b"FRHP" + bytes([0])
    hdr += struct.pack("<H", _FH_ID_LEN)
    hdr += struct.pack("<H", 0)  # no I/O filters
    hdr += bytes([0])  # flags: no checksummed blocks
    hdr += struct.pack("<I", block_size // 2)  # max size of managed objects
    hdr += struct.pack("<Q", 0)  # next huge object id
    hdr += struct.pack("<Q", _UNDEF)  # huge-object v2 B-tree
    hdr += struct.pack("<Q", free)  # free space in managed blocks
    hdr += struct.pack("<Q", _UNDEF)  # free-space manager
    hdr += struct.pack("<Q", block_size)  # managed space
    hdr += struct.pack("<Q", block_size)  # allocated managed space
    hdr += struct.pack("<Q", block_size)  # direct-block iterator offset
    hdr += struct.pack("<Q", len(bodies))  # managed object count
    hdr += struct.pack("<QQQQ", 0, 0, 0, 0)  # huge/tiny sizes + counts
    hdr += struct.pack("<H", _FH_WIDTH)
    hdr += struct.pack("<Q", _FH_START_BLOCK)
    hdr += struct.pack("<Q", _FH_MAX_DIRECT)
    hdr += struct.pack("<H", _FH_MAX_HEAP_BITS)
    hdr += struct.pack("<H", 0)  # starting rows in root indirect block
    hdr += struct.pack("<Q", dblock_addr)  # root block (direct)
    hdr += struct.pack("<H", 0)  # current rows: 0 -> root is direct
    hdr += struct.pack("<I", _lookup3(bytes(hdr)))
    heap_addr = w.append(bytes(hdr))
    assert heap_addr == heap_hdr_addr_guess

    # ---- v2 B-tree name index: header + one leaf ---------------------------
    rec_size = 4 + _FH_ID_LEN  # name hash + heap id
    recs = sorted(
        (_lookup3(n.encode()), hid) for (n, _), hid in zip(entries, heap_ids)
    )
    leaf = bytearray(b"BTLF" + bytes([0, 5]))
    for h, hid in recs:
        leaf += struct.pack("<I", h) + hid
    leaf += struct.pack("<I", _lookup3(bytes(leaf)))
    w.align()
    leaf_addr = w.append(bytes(leaf))

    node_size = 512
    bt = bytearray(b"BTHD" + bytes([0, 5]))
    bt += struct.pack("<I", node_size)
    bt += struct.pack("<H", rec_size)
    bt += struct.pack("<H", 0)  # depth
    bt += bytes([100, 40])  # split / merge percent (libhdf5 defaults)
    bt += struct.pack("<Q", leaf_addr)
    bt += struct.pack("<H", len(recs))
    bt += struct.pack("<Q", len(recs))
    bt += struct.pack("<I", _lookup3(bytes(bt)))
    btree_addr = w.append(bytes(bt))

    li = bytes([0, 0]) + struct.pack("<QQ", heap_addr, btree_addr)
    return _message_v2(0x02, li)


class _Writer:
    def __init__(self) -> None:
        self.parts: list[bytes] = []
        self.size = 0

    def append(self, data: bytes) -> int:
        addr = self.size
        self.parts.append(data)
        self.size += len(data)
        return addr

    def align(self, n: int = 8) -> None:
        pad = -self.size % n
        if pad:
            self.append(b"\0" * pad)


def encode_hdf5_cube(
    parameter: str,
    times: list[int],
    ys: list[float],
    xs: list[float],
    values: np.ndarray,
    *,
    chunk_t: int = 1,
    compress: bool = True,
    shuffle: bool = False,
    layout: str = "classic",
    dense_root: bool = False,
) -> bytes:
    """Encode a forecast cube as an HDF5 file: contiguous coordinate
    variables, chunked data variable ([chunk_t, ny, nx] chunks,
    optional deflate/shuffle).

    ``layout="classic"`` emits what libhdf5 writes by default —
    superblock v0, v1 object headers, symbol-table root group.
    ``layout="latest"`` emits the H5F_LIBVER_LATEST container
    structures — checksummed superblock v3, checksummed v2 object
    headers, v2 dataspaces, v3 attributes, and a compact root group of
    Link messages — so the reader's new-style paths are exercised end
    to end by the same cubes."""
    if layout not in ("classic", "latest"):
        raise ValueError(f"unknown layout {layout!r}")
    latest = layout == "latest"
    nt, ny, nx = len(times), len(ys), len(xs)
    values = np.ascontiguousarray(values, dtype="<f8")
    if values.shape != (nt, ny, nx):
        raise ValueError("values shape must be (time, y, x)")

    w = _Writer()
    w.append(b"\0" * 96)  # superblock v0 placeholder (patched at the end)

    # ---- raw data: coordinates (contiguous) -------------------------------
    time_addr = w.append(np.asarray(times, dtype="<i8").tobytes())
    y_addr = w.append(np.asarray(ys, dtype="<f8").tobytes())
    x_addr = w.append(np.asarray(xs, dtype="<f8").tobytes())

    # ---- raw data: chunks -------------------------------------------------
    chunk_dims = (chunk_t, ny, nx)
    chunk_records = []  # (size, offsets, addr)
    for t0 in range(0, nt, chunk_t):
        chunk = np.zeros(chunk_dims, dtype="<f8")
        n = min(chunk_t, nt - t0)
        chunk[:n] = values[t0 : t0 + n]
        raw = chunk.tobytes()
        if shuffle:
            raw = (
                np.frombuffer(raw, dtype="u1").reshape(-1, 8).T.tobytes()
            )
        if compress:
            raw = zlib.compress(raw, 6)
        addr = w.append(raw)
        chunk_records.append((len(raw), (t0, 0, 0, 0), addr))

    # ---- chunk B-tree (single leaf) ---------------------------------------
    w.align()
    rank = 3
    key_size = 8 + 8 * (rank + 1)
    btree = bytearray()
    btree += b"TREE" + bytes([1, 0]) + struct.pack("<H", len(chunk_records))
    btree += struct.pack("<QQ", _UNDEF, _UNDEF)
    for size, offs, addr in chunk_records:
        btree += struct.pack("<II", size, 0)
        for o in offs:
            btree += struct.pack("<Q", o)
        btree += struct.pack("<Q", addr)
    # final key: one past the last chunk
    btree += struct.pack("<II", 0, 0)
    for o in (nt, 0, 0, 0):
        btree += struct.pack("<Q", o)
    btree_addr = w.append(bytes(btree))

    # ---- object headers ---------------------------------------------------
    mk_msg = _message_v2 if latest else _message
    mk_hdr = _object_header_v2 if latest else _object_header_v1
    mk_space = _dataspace_v2 if latest else _dataspace
    mk_str_attr = _string_attr_v3 if latest else _string_attr

    def coord_header(shape, dt, addr, nbytes, extra_msgs=()):
        msgs = [
            mk_msg(0x01, mk_space(shape)),
            mk_msg(0x03, dt),
            mk_msg(0x05, bytes([2, 2, 0, 0])),  # fill v2, undefined
            mk_msg(
                0x08, bytes([3, 1]) + struct.pack("<QQ", addr, nbytes)
            ),
            *extra_msgs,
        ]
        return mk_hdr(msgs)

    w.align()
    time_hdr = w.append(
        coord_header(
            (nt,),
            _i64_datatype(),
            time_addr,
            nt * 8,
            [mk_str_attr("units", "seconds since 1970-01-01 00:00:00")],
        )
    )
    w.align()
    y_hdr = w.append(coord_header((ny,), _f64_datatype(), y_addr, ny * 8))
    w.align()
    x_hdr = w.append(coord_header((nx,), _f64_datatype(), x_addr, nx * 8))

    layout_body = bytes([3, 2, rank + 1]) + struct.pack("<Q", btree_addr)
    for d in (*chunk_dims, 8):
        layout_body += struct.pack("<I", d)
    var_msgs = [
        mk_msg(0x01, mk_space((nt, ny, nx))),
        mk_msg(0x03, _f64_datatype()),
        mk_msg(0x05, bytes([2, 2, 0, 0])),
        mk_msg(0x08, layout_body),
    ]
    filters = []
    if shuffle:
        filters.append(struct.pack("<HHHH", 2, 0, 1, 1) + struct.pack("<I", 8))
    if compress:
        filters.append(struct.pack("<HHHH", 1, 0, 1, 1) + struct.pack("<I", 6))
    if filters:
        if latest:  # filter pipeline v2: no reserved bytes, unpadded names
            body = bytes([2, len(filters)]) + b"".join(filters)
        else:
            body = bytes([1, len(filters)]) + b"\0" * 6 + b"".join(filters)
        var_msgs.append(mk_msg(0x0B, body))
    var_msgs.append(mk_str_attr("long_name", parameter))
    w.align()
    var_hdr = w.append(mk_hdr(var_msgs))

    # ---- root group + superblock -------------------------------------------
    if latest:
        link_entries = [
            ("time", time_hdr),
            ("y", y_hdr),
            ("x", x_hdr),
            (parameter, var_hdr),
        ]
        if dense_root:
            # DENSE "new style" group: links live in a fractal heap,
            # indexed by a v2 B-tree; the header carries only Link Info
            root_msgs = [
                _write_dense_links(w, link_entries),
                _message_v2(0x0A, bytes([0, 0])),
            ]
        else:
            # compact "new style" group: Link Info + Group Info + Links
            root_msgs = [
                _message_v2(
                    0x02, bytes([0, 0]) + struct.pack("<QQ", _UNDEF, _UNDEF)
                ),
                _message_v2(0x0A, bytes([0, 0])),
                *[_link_message(n, t) for n, t in link_entries],
            ]
        w.align()
        root_hdr = w.append(_object_header_v2(root_msgs))
        eof = w.size
        sb = bytearray(48)
        sb[0:8] = MAGIC
        sb[8:12] = bytes([3, 8, 8, 0])  # v3, 8-byte offsets/lengths, flags
        sb[12:20] = struct.pack("<Q", 0)  # base address
        sb[20:28] = struct.pack("<Q", _UNDEF)  # superblock extension
        sb[28:36] = struct.pack("<Q", eof)
        sb[36:44] = struct.pack("<Q", root_hdr)
        sb[44:48] = struct.pack("<I", _lookup3(bytes(sb[:44])))
        w.parts[0] = bytes(sb) + b"\0" * 48  # keep addresses stable (96-byte slot)
        return b"".join(w.parts)

    # classic: local heap + SNOD + B-tree v1 + symbol-table root header
    names = ["time", "y", "x", parameter]
    heap_data = bytearray(b"\0" * 8)  # offset 0: empty string
    name_offsets = {}
    for n in names:
        name_offsets[n] = len(heap_data)
        nb = n.encode() + b"\0"
        heap_data += nb + b"\0" * (-len(nb) % 8)
    w.align()
    heap_data_addr_pos = w.size + 32  # data directly after 32-byte header
    heap_addr = w.append(
        b"HEAP"
        + bytes([0, 0, 0, 0])
        + struct.pack("<QQQ", len(heap_data), 1, heap_data_addr_pos)
        + bytes(heap_data)
    )

    entries = sorted(
        [
            ("time", time_hdr),
            ("y", y_hdr),
            ("x", x_hdr),
            (parameter, var_hdr),
        ]
    )
    snod = bytearray(b"SNOD" + bytes([1, 0]) + struct.pack("<H", len(entries)))
    for n, hdr in entries:
        snod += struct.pack("<QQ", name_offsets[n], hdr)
        snod += struct.pack("<I", 0) + b"\0" * 4 + b"\0" * 16
    w.align()
    snod_addr = w.append(bytes(snod))

    w.align()
    gtree = bytearray(b"TREE" + bytes([0, 0]) + struct.pack("<H", 1))
    gtree += struct.pack("<QQ", _UNDEF, _UNDEF)
    gtree += struct.pack("<Q", 0)  # key 0: empty-string heap offset
    gtree += struct.pack("<Q", snod_addr)
    gtree += struct.pack("<Q", name_offsets[entries[-1][0]])
    gtree_addr = w.append(bytes(gtree))

    w.align()
    root_hdr = w.append(
        _object_header_v1(
            [_message(0x11, struct.pack("<QQ", gtree_addr, heap_addr))]
        )
    )

    # ---- superblock (patch placeholder) -----------------------------------
    eof = w.size
    sb = bytearray(96)
    sb[0:8] = MAGIC
    sb[8:16] = bytes([0, 0, 0, 0, 0, 8, 8, 0])
    sb[16:18] = struct.pack("<H", 4)  # group leaf k
    sb[18:20] = struct.pack("<H", 16)  # group internal k
    sb[20:24] = struct.pack("<I", 0)
    sb[24:32] = struct.pack("<Q", 0)  # base address
    sb[32:40] = struct.pack("<Q", _UNDEF)
    sb[40:48] = struct.pack("<Q", eof)
    sb[48:56] = struct.pack("<Q", _UNDEF)
    # root symbol-table entry
    sb[56:64] = struct.pack("<Q", 0)  # link name offset
    sb[64:72] = struct.pack("<Q", root_hdr)
    sb[72:76] = struct.pack("<I", 0)  # cache type 0
    w.parts[0] = bytes(sb)
    return b"".join(w.parts)
