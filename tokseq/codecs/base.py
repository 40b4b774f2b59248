"""Codec protocol + registry, and the payload-layout machinery every
codec's wire format is declared through.

A codec turns one column chunk (a 1-D non-negative int array, the
values of one ``tokens`` slice) into ``(payload: bytes, bit_width: int,
min_val: int)`` and back. ``bit_width`` and ``min_val`` are the only
out-of-band metadata — they live as columns of the encoded DataFrame;
anything else a codec needs is a small fixed header inside the payload.

This is the Spark-era analog of the reference's ``Seq``/``SeqVec``
trait pair (/root/reference/src/traits.rs:21-267): ``encode`` plays
``push_ascii`` (bulk pack), ``decode`` plays ``iter_bp``+``collect``
(streaming unpack), and the (payload, n_values, bit_width) triple plays
``from_raw_parts`` (/root/reference/src/packed_seq.rs:375-378).

Each codec class owns its payload layout, the way the reference's
``Seq`` trait owns ``BITS_PER_CHAR``: the header struct (``_HDR``, with
field names ``FIELDS``) and the ordered stream list with each stream's
field count, width and padding rule (``streams``). Everything else is
derived from that one declaration:

  * :meth:`Codec.layout` — header fields plus every stream's byte
    range, width and field count for a GROUP of payloads; read by the
    grouped decoders (engine/decode.py) and the aggregate kernel
    (engine/agg.py), via :func:`gather_sections` and the codecs' own
    group stream parsers (``RleCodec.decode_runs``,
    ``DictCodec.decode_entries``);
  * :meth:`Codec.assemble` — header + streams -> payload bytes for the
    grouped encoders (engine/encode.py, with :func:`pack_sections`);
  * :meth:`Codec.payload_size` — exact payload bytes for given header
    fields; the selector's size estimates and the stats screens
    (selector.py, stats.py) evaluate it on estimated fields.

The per-chunk ``encode``/``decode`` methods stay independent reference
implementations of the same layout: the grouped kernels are tested
byte- and value-identical against them. fsst is the one codec outside
this scheme: its stream sizes follow from the symbol table it carries,
not from header fields, and nothing but ``FsstCodec.decode`` reads it
(the engine decodes fsst per chunk), so its layout stays private to
fsst.py.

Invariant (the master roundtrip property, mirroring
/root/reference/src/test.rs:10-40): for every codec c and every valid
chunk v: ``c.decode(*c.encode(v), n=len(v)) == v`` element-wise.
"""

from __future__ import annotations

import struct
from dataclasses import dataclass
from types import SimpleNamespace
from typing import Dict

import numpy as np

from .bitpack import pack_bits_le, unpack_bits_le, unpack_bits_u8


@dataclass(frozen=True)
class Encoded:
    payload: bytes
    bit_width: int  # effective width the floor is computed against
    min_val: int    # frame of reference (0 for codecs that don't shift)


@dataclass(frozen=True)
class Stream:
    """One stream kind across a group of payloads: per-payload byte
    range [start, end), field width and (unpadded) field count."""

    start: np.ndarray
    end: np.ndarray
    width: np.ndarray
    count: np.ndarray

    def take(self, sel) -> "Stream":
        return Stream(self.start[sel], self.end[sel], self.width[sel], self.count[sel])

    def section(self, payload: bytes, j: int) -> bytes:
        """Group member ``j``'s bytes of this stream, from its own payload."""
        return payload[self.start[j] : self.end[j]]

    def unpack(self, payload: bytes, j: int) -> np.ndarray:
        """Group member ``j``'s fields (uint64), from its own payload."""
        return unpack_bits_le(
            self.section(payload, j), int(self.width[j]), int(self.count[j])
        )


def _stream_bytes(count, width, pad8: bool):
    """Bytes of one stream: 8-FIELD padded streams round the field
    count up to a multiple of 8 (so same-width streams of different
    chunks concatenate field-aligned); the others are byte-padded."""
    return (count + 7) // 8 * width if pad8 else (count * width + 7) // 8


class Codec:
    """Protocol: subclass-or-duck-typed; registered by name."""

    name: str = "?"
    _HDR: struct.Struct | None = None  # little-endian header, or none
    FIELDS: tuple[str, ...] = ()       # header field names, in _HDR order

    def encode(self, values: np.ndarray) -> Encoded:  # pragma: no cover
        raise NotImplementedError

    def decode(self, payload: bytes, n: int, bit_width: int, min_val: int) -> np.ndarray:
        raise NotImplementedError  # pragma: no cover

    def streams(self, f) -> list:
        """The layout after the header: ``[(name, count, width, pad8)]``
        in payload order. ``f`` maps header field names (plus ``n``,
        the chunk's value count, and ``bit_width``) to scalars or numpy
        arrays; the expressions broadcast."""
        return []

    @property
    def header_size(self) -> int:
        return self._HDR.size if self._HDR is not None else 0

    def payload_size(self, **f):
        """Exact payload bytes for header fields ``f`` (broadcasts)."""
        size = self.header_size
        for _, count, width, pad8 in self.streams(f):
            size = size + _stream_bytes(count, width, pad8)
        return size

    def layout(self, payloads, grp, ns, widths=None) -> SimpleNamespace:
        """Parse the headers of ``payloads[grp]`` (one pass) and place
        every stream. Returns a namespace of int64 arrays (one entry
        per group member): each header field, ``n``, ``bit_width`` (when
        ``widths`` is given) and one :class:`Stream` per stream name."""
        grp = np.asarray(grp, dtype=np.int64)
        f = {}
        if self._HDR is not None:
            h = np.array(
                [self._HDR.unpack_from(payloads[i], 0) for i in grp], dtype=np.int64
            ).reshape(len(grp), len(self.FIELDS))
            f = dict(zip(self.FIELDS, h.T))
        f["n"] = np.asarray(ns, dtype=np.int64)[grp]
        if widths is not None:
            f["bit_width"] = np.asarray(widths, dtype=np.int64)[grp]
        off = np.full(len(grp), self.header_size, dtype=np.int64)
        streams = {}
        for name, count, width, pad8 in self.streams(f):
            count = np.broadcast_to(np.asarray(count, np.int64), off.shape)
            width = np.broadcast_to(np.asarray(width, np.int64), off.shape)
            end = off + _stream_bytes(count, width, pad8)
            streams[name] = Stream(off, end, width, count)
            off = end
        return SimpleNamespace(**f, **streams)

    def assemble(self, f, sections) -> list[bytes]:
        """Header + streams -> one payload per group member. ``f`` holds
        per-member header fields (plus ``n``); ``sections[name][j]`` is
        member j's packed stream, at least as long as its layout size
        (8-field-padded sections of byte-padded streams are cut)."""
        m = len(f["n"])
        sized = [
            (sections[name], np.broadcast_to(_stream_bytes(count, width, pad8), m).tolist())
            for name, count, width, pad8 in self.streams(f)
        ]
        if self._HDR is None:
            heads = [b""] * m
        else:
            cols = [np.asarray(f[k]).tolist() for k in self.FIELDS]
            heads = [self._HDR.pack(*row) for row in zip(*cols)]
        return [
            heads[j] + b"".join(sec[j][: nbs[j]] for sec, nbs in sized)
            for j in range(m)
        ]


def pack_sections(parts, widths) -> list[bytes]:
    """Pack one stream per chunk (``parts[j]`` at ``widths[j]`` bits)
    into 8-field-padded sections: ONE pack_bits_le call per distinct
    width for the whole group. Pad fields are zero, so each section's
    first ceil(k*w/8) bytes equal a per-chunk ``pack_bits_le`` — a
    byte-padded stream is the section's prefix (``Codec.assemble``
    cuts it)."""
    widths = np.asarray(widths, dtype=np.int64)
    out = [b""] * len(parts)
    zpad = np.zeros(7, dtype=np.uint8)
    for w in np.unique(widths):
        if w == 0:
            continue
        sel = np.flatnonzero(widths == w)
        bufs = []
        for j in sel:
            bufs.append(parts[j])
            if len(parts[j]) % 8:
                bufs.append(zpad[: -len(parts[j]) % 8])
        packed = pack_bits_le(np.concatenate(bufs), int(w))
        pos = 0
        for j in sel:
            nb = (len(parts[j]) + 7) // 8 * int(w)
            out[j] = packed[pos : pos + nb]
            pos += nb
    return out


def gather_sections(payloads, grp, s: Stream, dest, dest_offs=None, add=None):
    """Unpack stream ``s`` of every ``payloads[grp[j]]`` in ONE call per
    distinct width, then slice each member's fields (dropping its pad)
    into ``dest``. ``dest_offs`` overrides the default contiguous
    group-order placement with explicit per-member target offsets;
    ``add`` is an optional per-member scalar added to the decoded
    fields (FoR minima), fused into the single whole-group pass.

    Sections may be 8-FIELD padded (their natural joined size) or
    merely BYTE-padded (doc-tail chunks whose count is not a multiple
    of 8): short sections are zero-extended to the 8-field-padded size
    at join time, which keeps the joined buffer field-aligned
    throughout (the pad fields decode to zeros and are dropped by the
    slicing). This is the decode-side mirror of :func:`pack_sections`."""
    counts = s.count
    padded = (counts + 7) // 8 * 8
    if dest_offs is None:
        dest_offs = np.concatenate(([0], np.cumsum(counts))).astype(np.int64)
    for w in np.unique(s.width):
        sel = np.flatnonzero(s.width == w)
        need = padded[sel] * int(w) // 8
        buf = b"".join(
            payloads[grp[j]][s.start[j] : s.end[j]].ljust(int(nb), b"\0")
            for j, nb in zip(sel, need)
        )
        if w == 1:
            vals = unpack_bits_u8(buf, int(padded[sel].sum()))
        else:
            vals = unpack_bits_le(buf, int(w), int(padded[sel].sum()))
        if add is not None:
            vals = vals.astype(np.int64)
            vals += np.repeat(np.asarray(add)[sel], padded[sel])
        pos = 0
        for j in sel:
            k = int(counts[j])
            dest[dest_offs[j] : dest_offs[j] + k] = vals[pos : pos + k]
            pos += int(padded[j])


_REGISTRY: Dict[str, Codec] = {}


def register(codec: Codec) -> Codec:
    _REGISTRY[codec.name] = codec
    return codec


def get_codec(name: str) -> Codec:
    return _REGISTRY[name]


def all_codecs() -> Dict[str, Codec]:
    return dict(_REGISTRY)


def as_int64(values) -> np.ndarray:
    """Normalize a chunk to a contiguous signed int array.

    int32 input is kept as int32 (tokens live in [0, 2^31) so
    frame-shift arithmetic cannot overflow it, and halving the working
    width matters: the encode kernel is memory-bandwidth-bound at high
    core counts). Anything else widens to int64; shift-heavy math
    inside pack_bits_le upcasts as needed (SURVEY §7.2 'max-value
    saturation')."""
    v = np.ascontiguousarray(values)
    if v.dtype == np.int32:
        return v
    return v.astype(np.int64, copy=False)
