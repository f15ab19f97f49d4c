"""Pure-Python Compound File Binary (OLE2) reader + MSG / XLS text.

The reference reads Outlook ``.msg`` via extract_msg and legacy
``.xls`` via xlrd (reference document_processor.py:167-194); neither
library is in this container, so this module implements the minimum
of [MS-CFB] (the compound-file container both formats share) plus:

- ``msg_text``: [MS-OXMSG] property streams — subject
  (``__substg1.0_0037``) and plain-text body (``__substg1.0_1000``),
  in the UTF-16 (001F) or codepage (001E) encodings.
- ``xls_text``: [MS-XLS] BIFF8 worksheet cells — SST/LABELSST/
  LABEL/NUMBER/RK/MULRK/BOOLERR and cached FORMULA results — rendered
  in xlrd-equivalent form (numbers as Python floats).

Entry points take raw ``bytes`` → ``str | None`` per the
``EXTRACTORS`` contract in ``sources/extract.py``.
"""

from __future__ import annotations

import struct

_CFB_MAGIC = b"\xd0\xcf\x11\xe0\xa1\xb1\x1a\xe1"
_ENDOFCHAIN = 0xFFFFFFFE
_FREESECT = 0xFFFFFFFF
_MAX_CHAIN = 1 << 22  # cycle guard


class CompoundFile:
    """Minimal [MS-CFB] reader: directory entries + stream extraction
    (regular FAT chains and the root mini-stream)."""

    def __init__(self, data: bytes) -> None:
        if len(data) < 512 or not data.startswith(_CFB_MAGIC):
            raise ValueError("not a compound file")
        try:
            self._parse(data)
        except (struct.error, IndexError, OverflowError, MemoryError) as e:
            # single failure mode for callers: malformed container
            raise ValueError(f"malformed compound file: {e}") from e

    def _parse(self, data: bytes) -> None:
        self._data = data
        (
            self._sector_shift,
            self._mini_shift,
        ) = struct.unpack_from("<HH", data, 30)
        # spec: v3 shift=9, v4 shift=12; mini shift=6. Bound-check so a
        # corrupt header cannot demand astronomical sector sizes.
        if not (6 <= self._sector_shift <= 20 and 4 <= self._mini_shift <= 16):
            raise ValueError(
                f"implausible sector shifts {self._sector_shift}/{self._mini_shift}"
            )
        max_sect = len(data) // 512 + 1  # clamp header counts: a corrupt
        # count cannot exceed the sectors that physically exist
        (n_fat,) = struct.unpack_from("<I", data, 44)
        n_fat = min(n_fat, max_sect)
        (self._dir_start,) = struct.unpack_from("<I", data, 48)
        (self._mini_cutoff,) = struct.unpack_from("<I", data, 56)
        (self._minifat_start,) = struct.unpack_from("<I", data, 60)
        (n_minifat,) = struct.unpack_from("<I", data, 64)
        n_minifat = min(n_minifat, max_sect)
        (difat_start,) = struct.unpack_from("<I", data, 68)
        (n_difat,) = struct.unpack_from("<I", data, 72)
        n_difat = min(n_difat, max_sect)
        self._ssz = 1 << self._sector_shift
        self._msz = 1 << self._mini_shift

        # DIFAT: 109 header entries + chained DIFAT sectors
        difat = list(struct.unpack_from("<109I", data, 76))
        sect = difat_start
        for _ in range(n_difat):
            if sect in (_ENDOFCHAIN, _FREESECT):
                break
            raw = self._sector(sect)
            entries = struct.unpack(f"<{self._ssz // 4}I", raw)
            difat.extend(entries[:-1])
            sect = entries[-1]

        self._fat: list[int] = []
        for fs in difat[:n_fat]:
            if fs in (_ENDOFCHAIN, _FREESECT):
                continue
            self._fat.extend(
                struct.unpack(f"<{self._ssz // 4}I", self._sector(fs))
            )

        self._minifat: list[int] = []
        sect, remaining = self._minifat_start, n_minifat
        while remaining > 0 and sect not in (_ENDOFCHAIN, _FREESECT):
            self._minifat.extend(
                struct.unpack(f"<{self._ssz // 4}I", self._sector(sect))
            )
            sect = self._fat[sect] if sect < len(self._fat) else _ENDOFCHAIN
            remaining -= 1

        self.entries = self._read_directory()
        root = next((e for e in self.entries if e["type"] == 5), None)
        self._mini_stream = (
            self._read_chain(root["start"], root["size"]) if root else b""
        )

    # -- sector plumbing ---------------------------------------------------

    def _sector(self, n: int) -> bytes:
        off = 512 + n * self._ssz
        return self._data[off : off + self._ssz]

    def _read_chain(self, start: int, size: int) -> bytes:
        parts, sect, guard = [], start, 0
        while sect not in (_ENDOFCHAIN, _FREESECT) and guard < _MAX_CHAIN:
            parts.append(self._sector(sect))
            sect = self._fat[sect] if sect < len(self._fat) else _ENDOFCHAIN
            guard += 1
        return b"".join(parts)[:size]

    def _read_mini_chain(self, start: int, size: int) -> bytes:
        parts, sect, guard = [], start, 0
        while sect not in (_ENDOFCHAIN, _FREESECT) and guard < _MAX_CHAIN:
            off = sect * self._msz
            parts.append(self._mini_stream[off : off + self._msz])
            sect = (
                self._minifat[sect] if sect < len(self._minifat) else _ENDOFCHAIN
            )
            guard += 1
        return b"".join(parts)[:size]

    def _read_directory(self) -> list[dict]:
        raw = self._read_chain(self._dir_start, len(self._data))
        entries = []
        for off in range(0, len(raw) - 127, 128):
            (name_len,) = struct.unpack_from("<H", raw, off + 64)
            etype = raw[off + 66]
            if etype == 0 or not 2 <= name_len <= 64:
                continue
            name = raw[off : off + name_len - 2].decode("utf-16-le", "replace")
            (start,) = struct.unpack_from("<I", raw, off + 116)
            (size,) = struct.unpack_from("<Q", raw, off + 120)
            entries.append(
                {"name": name, "type": etype, "start": start, "size": size}
            )
        return entries

    # -- public ------------------------------------------------------------

    def stream(self, name: str) -> bytes | None:
        """First stream whose name matches (directory order)."""
        for e in self.entries:
            if e["type"] == 2 and e["name"] == name:
                if e["size"] < self._mini_cutoff:
                    return self._read_mini_chain(e["start"], e["size"])
                return self._read_chain(e["start"], e["size"])
        return None


# ---------------------------------------------------------------------------
# MSG
# ---------------------------------------------------------------------------

#: (property id, preference order of type suffixes)
_MSG_SUBJECT, _MSG_BODY = "0037", "1000"


def _msg_string(cf: CompoundFile, prop: str) -> str | None:
    for suffix, encoding in (("001F", "utf-16-le"), ("001E", "cp1252")):
        raw = cf.stream(f"__substg1.0_{prop}{suffix}")
        if raw is not None:
            return raw.decode(encoding, "replace").rstrip("\x00")
    return None


def msg_text(data: bytes) -> str | None:
    """MSG → ``Subject: ...\\n<body>`` (mirrors the extract_msg-based
    loader's output shape in ``_extract_msg_fmt``)."""
    try:
        cf = CompoundFile(data)
    except (ValueError, struct.error, IndexError):
        return None
    parts = []
    subject = _msg_string(cf, _MSG_SUBJECT)
    if subject and subject.strip():
        parts.append(f"Subject: {subject}")
    body = _msg_string(cf, _MSG_BODY)
    if body and body.strip():
        parts.append(body)
    return "\n".join(parts) if parts else None


# ---------------------------------------------------------------------------
# XLS (BIFF8)
# ---------------------------------------------------------------------------


def _decode_rk(rk: int) -> float:
    """RK-number decoding ([MS-XLS] 2.5.122)."""
    div100 = rk & 0x01
    if rk & 0x02:  # 30-bit signed integer
        value = float(rk >> 2 if rk >> 2 < (1 << 29) else (rk >> 2) - (1 << 30))
    else:  # top 30 bits of an IEEE double
        (value,) = struct.unpack("<d", struct.pack("<Q", (rk & ~0x3) << 32))
    return value / 100.0 if div100 else value


class _SSTCursor:
    """Byte cursor over SST + CONTINUE payloads. Strings may split at
    a CONTINUE boundary, where a fresh grbit byte restates the
    encoding ([MS-XLS] 2.5.293)."""

    def __init__(self, blocks: list[bytes]) -> None:
        self._blocks = blocks
        self._bi = 0
        self._off = 0

    def _remaining(self) -> int:
        return len(self._blocks[self._bi]) - self._off

    def _advance_block(self) -> bool:
        while self._bi + 1 < len(self._blocks):
            self._bi += 1
            self._off = 0
            if self._blocks[self._bi]:
                return True
        return False

    def read(self, n: int) -> bytes:
        out = b""
        while n > 0:
            if self._remaining() == 0 and not self._advance_block():
                break
            take = min(n, self._remaining())
            out += self._blocks[self._bi][self._off : self._off + take]
            self._off += take
            n -= take
        return out

    def read_string(self) -> str:
        cch = struct.unpack("<H", self.read(2))[0]
        grbit = self.read(1)[0]
        rich = grbit & 0x08
        ext = grbit & 0x04
        c_run = struct.unpack("<H", self.read(2))[0] if rich else 0
        cb_ext = struct.unpack("<i", self.read(4))[0] if ext else 0
        chars: list[str] = []
        remaining = cch
        high = bool(grbit & 0x01)
        while remaining > 0:
            if self._remaining() == 0:
                if not self._advance_block():
                    break
                high = bool(self.read(1)[0] & 0x01)  # continuation grbit
            n_here = min(
                remaining,
                self._remaining() // 2 if high else self._remaining(),
            )
            if n_here == 0:  # lone byte at block end (malformed); skip
                if not self._advance_block():
                    break
                continue
            raw = self.read(n_here * 2 if high else n_here)
            chars.append(raw.decode("utf-16-le" if high else "latin-1", "replace"))
            remaining -= n_here
        self.read(4 * c_run + max(cb_ext, 0))
        return "".join(chars)


def _parse_sst(blocks: list[bytes]) -> list[str]:
    cur = _SSTCursor(blocks)
    cur.read(4)  # total refs
    (unique,) = struct.unpack("<I", cur.read(4))
    return [cur.read_string() for _ in range(min(unique, 1 << 22))]


def xls_text(data: bytes) -> str | None:
    """XLS → text: per sheet (BOUNDSHEET order), cells in (row, col)
    order, numbers rendered as Python floats (xlrd parity with the
    ``_extract_xls`` loader: non-empty values joined by spaces, rows
    by newlines)."""
    try:
        cf = CompoundFile(data)
    except (ValueError, struct.error, IndexError):
        return None
    stream = cf.stream("Workbook") or cf.stream("Book")
    if not stream:
        return None

    # Pass 1: records; gather SST (+ its CONTINUEs) and substream BOFs.
    records: list[tuple[int, int, bytes]] = []  # (opcode, offset, payload)
    off = 0
    while off + 4 <= len(stream):
        opcode, length = struct.unpack_from("<HH", stream, off)
        payload = stream[off + 4 : off + 4 + length]
        records.append((opcode, off, payload))
        off += 4 + length

    shared: list[str] = []
    for i, (opcode, _, payload) in enumerate(records):
        if opcode == 0x00FC:  # SST
            blocks = [payload]
            for nxt_op, _, nxt_pay in records[i + 1 :]:
                if nxt_op != 0x003C:  # CONTINUE
                    break
                blocks.append(nxt_pay)
            try:
                shared = _parse_sst(blocks)
            except (struct.error, IndexError):
                shared = []
            break

    # Pass 2: worksheet cell records between each non-globals BOF/EOF.
    lines: list[str] = []
    cells: dict[tuple[int, int], str] = {}
    in_sheet = False

    def flush() -> None:
        rows: dict[int, list[tuple[int, str]]] = {}
        for (r, c), v in sorted(cells.items()):
            rows.setdefault(r, []).append((c, v))
        for r in sorted(rows):
            vals = [v for _, v in rows[r] if v.strip()]
            if vals:
                lines.append(" ".join(vals))
        cells.clear()

    saw_globals = False
    for opcode, _, payload in records:
        if opcode == 0x0809:  # BOF
            if saw_globals:
                in_sheet = True
            saw_globals = True
            continue
        if opcode == 0x000A:  # EOF
            if in_sheet:
                flush()
            in_sheet = False
            continue
        if not in_sheet or len(payload) < 6:
            continue
        try:
            if opcode == 0x00FD:  # LABELSST
                r, c, _xf, isst = struct.unpack_from("<HHHI", payload)
                if isst < len(shared):
                    cells[(r, c)] = shared[isst]
            elif opcode == 0x0203:  # NUMBER
                r, c, _xf = struct.unpack_from("<HHH", payload)
                (val,) = struct.unpack_from("<d", payload, 6)
                cells[(r, c)] = str(val)
            elif opcode == 0x027E:  # RK
                r, c, _xf, rk = struct.unpack_from("<HHHI", payload)
                cells[(r, c)] = str(_decode_rk(rk))
            elif opcode == 0x00BD:  # MULRK
                r, c_first = struct.unpack_from("<HH", payload)
                (c_last,) = struct.unpack_from("<H", payload, len(payload) - 2)
                for j in range(c_last - c_first + 1):
                    (rk,) = struct.unpack_from("<I", payload, 4 + j * 6 + 2)
                    cells[(r, c_first + j)] = str(_decode_rk(rk))
            elif opcode == 0x0204:  # LABEL (pre-SST inline string)
                r, c, _xf = struct.unpack_from("<HHH", payload)
                (cch,) = struct.unpack_from("<H", payload, 6)
                grbit = payload[8]
                if grbit & 0x01:
                    cells[(r, c)] = payload[9 : 9 + cch * 2].decode(
                        "utf-16-le", "replace"
                    )
                else:
                    cells[(r, c)] = payload[9 : 9 + cch].decode(
                        "latin-1", "replace"
                    )
            elif opcode == 0x0205:  # BOOLERR
                r, c, _xf = struct.unpack_from("<HHH", payload)
                val, is_err = payload[6], payload[7]
                if not is_err:  # xlrd: bool cells surface as 1/0
                    cells[(r, c)] = str(float(val))
            elif opcode == 0x0006:  # FORMULA with cached numeric result
                r, c, _xf = struct.unpack_from("<HHH", payload)
                cached = payload[6:14]
                if cached[6:8] != b"\xff\xff":  # numeric cache
                    (val,) = struct.unpack("<d", cached)
                    cells[(r, c)] = str(val)
        except (struct.error, IndexError):
            continue
    if cells:
        flush()

    text = "\n".join(lines)
    return text if text.strip() else None
