"""One bounded binary reader for every container parser.

Untrusted payload bytes (RIFF/WAV, MP4, WebM, Ogg, MP3, FLAC metadata, AVI,
GIF, WebP, JPEG marker segments, PNG chunks, Avro blocks) are read through
:class:`Reader`, a cursor over ``buf[pos:end]`` of a ``bytes`` or
``memoryview``. This module alone decides how those bytes are
bounds-checked and how much a declared size may allocate:

- every read is checked against the scope end;
- a box, element, chunk or page is a child scope (:meth:`Reader.sub`) whose
  declared size is checked against its parent's;
- a declared item count is checked against the bytes left
  (:meth:`Reader.count`);
- a declared decoded size (canvas, frame list, coefficient blocks,
  inflated stream) is charged against :data:`OUTPUT_BUDGET` before it is
  allocated (:meth:`Reader.claim`).

Every failure is a ``ValueError`` naming the format, the structure and the
byte offset, which the Arrow passes turn into one ``decode_error`` row.
"""

from __future__ import annotations

import struct
from functools import lru_cache
from typing import Iterator, Tuple

#: bytes one decode may allocate for sizes its payload declares, summed over
#: the decode: an 85-megapixel RGB canvas, or about 290 640x480 RGB frames.
#: A payload declaring more is a ``decode_error`` row, never a Python worker
#: killed by the allocation.
OUTPUT_BUDGET = 256 << 20

_RIFF_HEADER = struct.Struct("<4sI")
_struct = lru_cache(maxsize=256)(struct.Struct)  # formats are code literals


def _int(fmt: str):
    s = struct.Struct(fmt)
    size = s.size

    def read(self, what: str = "field") -> int:
        p = self.pos
        if p + size > self.end:
            self.need(size, what)
        self.pos = p + size
        return s.unpack_from(self.buf, p)[0]

    return read


class Reader:
    """Bounded cursor over ``buf[pos:end]``; ``fmt`` labels its errors
    ("mp4", "ogg", ...) and ``what`` names the structure it spans."""

    __slots__ = ("buf", "pos", "end", "fmt", "what", "root", "spent")

    def __init__(self, buf, fmt: str, pos: int = 0, end: int = None,
                 what: str = ""):
        self.buf = buf
        self.pos = pos
        self.end = len(buf) if end is None else end
        self.fmt = fmt
        self.what = what
        self.root = self
        self.spent = 0

    # -- failure and bounds -------------------------------------------------

    def fail(self, problem: str, at: int = None):
        where = f"{self.fmt} {self.what}" if self.what else self.fmt
        raise ValueError(
            f"{where}: {problem} at byte {self.pos if at is None else at}")

    def left(self) -> int:
        return self.end - self.pos

    def need(self, n: int, what: str = "field") -> None:
        if n < 0:
            self.fail(f"negative {what} size {n}")
        if n > self.end - self.pos:
            self.fail(f"truncated {what} (need {n} bytes, "
                      f"{self.end - self.pos} left)")

    # -- reads --------------------------------------------------------------

    def take(self, n: int, what: str = "field"):
        """The next ``n`` bytes (a slice of the buffer's own type)."""
        self.need(n, what)
        p = self.pos
        self.pos = p + n
        return self.buf[p:p + n]

    def skip(self, n: int, what: str = "field") -> None:
        self.need(n, what)
        self.pos += n

    def peek(self, n: int):
        """Up to ``n`` bytes at the cursor, without moving or checking it."""
        return self.buf[self.pos:min(self.pos + n, self.end)]

    def unpack(self, fmt: str, what: str = "field") -> tuple:
        """``struct`` fields at the cursor (e.g. ``"<HHIIHH"``)."""
        s = _struct(fmt)
        p = self.pos
        if p + s.size > self.end:
            self.need(s.size, what)
        self.pos = p + s.size
        return s.unpack_from(self.buf, p)

    def u8(self, what: str = "field") -> int:
        p = self.pos
        if p >= self.end:
            self.need(1, what)
        self.pos = p + 1
        return self.buf[p]

    be16 = _int(">H")
    be32 = _int(">I")
    be64 = _int(">Q")
    le16 = _int("<H")
    le32 = _int("<I")
    le64 = _int("<Q")

    def uint(self, n: int, order: str = "big", what: str = "field") -> int:
        """An ``n``-byte unsigned int (24-bit fields, EBML's 0-8 bytes)."""
        return int.from_bytes(self.take(n, what), order)

    # -- scopes, counts, budget ---------------------------------------------

    def _child(self, start: int, stop: int, what: str) -> "Reader":
        c = Reader.__new__(Reader)  # hot (a scope per chunk): skip __init__
        c.buf, c.pos, c.end = self.buf, start, stop
        c.fmt, c.what, c.root = self.fmt, what, self.root
        return c

    def fork(self) -> "Reader":
        """A cursor over the rest of this scope that moves on its own (a
        walker can re-read a container without consuming it)."""
        return self._child(self.pos, self.end, self.what)

    def sub(self, n: int, what: str) -> "Reader":
        """The next ``n`` bytes as a child scope named ``what``; this cursor
        moves past them. A size past this scope's end raises."""
        if n < 0 or n > self.end - self.pos:
            self.fail(f"{what} size {n} exceeds scope")
        p = self.pos
        self.pos = p + n
        return self._child(p, p + n, what)

    def count(self, n: int, item_size: int, what: str) -> int:
        """A declared count of items of at least ``item_size`` bytes each,
        checked against the bytes left in this scope."""
        if n < 0 or n * item_size > self.end - self.pos:
            self.fail(f"{what} count {n} exceeds the "
                      f"{self.end - self.pos} bytes left")
        return n

    def claim(self, nbytes: int, what: str) -> int:
        """Charge ``nbytes`` of declared output to this decode's budget
        before allocating it; past :data:`OUTPUT_BUDGET` raises."""
        root = self.root
        if nbytes < 0 or root.spent + nbytes > OUTPUT_BUDGET:
            self.fail(f"{what} of {nbytes} bytes takes this decode past "
                      f"its {OUTPUT_BUDGET}-byte output budget")
        root.spent += nbytes
        return nbytes

    def riff_chunks(self) -> Iterator[Tuple[bytes, "Reader"]]:
        """``(fourcc, body)`` for each RIFF chunk left in this scope.

        A body declared past the scope end keeps the bytes present (a
        truncated file keeps its readable prefix), an odd size skips its pad
        byte, and fewer than 8 trailing bytes end the walk."""
        buf, end = self.buf, self.end
        while end - self.pos >= 8:
            fourcc, size = _RIFF_HEADER.unpack_from(buf, self.pos)
            start = self.pos + 8
            self.pos = min(start + size + (size & 1), end)
            name = fourcc.decode("latin-1").rstrip()
            yield fourcc, self._child(start, min(start + size, end),
                                      f"{name} chunk")
