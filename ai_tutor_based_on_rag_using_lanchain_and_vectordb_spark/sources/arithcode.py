"""JPEG arithmetic entropy coding (ITU-T T.81 Annexes D & F, public
spec): the QM binary arithmetic coder with its 113-state probability
estimation table, plus the DC/AC conditioning models sequential
arithmetic JPEG (SOF9) uses.

Conventions follow the interoperable practice of the reference
implementations of the spec: 0xFF bytes in the entropy segment are
followed by a stuffed 0x00 byte (any other value after 0xFF is a
marker, which legally terminates the segment — the decoder then feeds
zero bytes until the scan's MCUs are complete).

Used by sources/mediaencode.encode_jpeg(arithmetic=True) to produce
ground-truth SOF9 streams and by sources/mediadecode's SOF9 path to
decode them; tests/test_arithcode.py round-trips the raw coder on
random decision sequences before any JPEG framing is involved.
"""

from __future__ import annotations

# T.81 Table D.3 — Qe value and probability estimation state machine:
# (Qe, Next_Index_MPS, Next_Index_LPS, Switch_MPS). Entry 113 is the
# non-adapting ~0.5 state used for AC sign decisions ("fixed bin").
QE_TABLE: tuple[tuple[int, int, int, int], ...] = (
    (0x5A1D, 1, 1, 1), (0x2586, 2, 14, 0), (0x1114, 3, 16, 0),
    (0x080B, 4, 18, 0), (0x03D8, 5, 20, 0), (0x01DA, 6, 23, 0),
    (0x00E5, 7, 25, 0), (0x006F, 8, 28, 0), (0x0036, 9, 30, 0),
    (0x001A, 10, 33, 0), (0x000D, 11, 35, 0), (0x0006, 12, 9, 0),
    (0x0003, 13, 10, 0), (0x0001, 13, 12, 0), (0x5A7F, 15, 15, 1),
    (0x3F25, 16, 36, 0), (0x2CF2, 17, 38, 0), (0x207C, 18, 39, 0),
    (0x17B9, 19, 40, 0), (0x1182, 20, 42, 0), (0x0CEF, 21, 43, 0),
    (0x09A1, 22, 45, 0), (0x072F, 23, 46, 0), (0x055C, 24, 48, 0),
    (0x0406, 25, 49, 0), (0x0303, 26, 51, 0), (0x0240, 27, 52, 0),
    (0x01B1, 28, 54, 0), (0x0144, 29, 56, 0), (0x00F5, 30, 57, 0),
    (0x00B7, 31, 59, 0), (0x008A, 32, 60, 0), (0x0068, 33, 62, 0),
    (0x004E, 34, 63, 0), (0x003B, 35, 32, 0), (0x002C, 9, 33, 0),
    (0x5AE1, 37, 37, 1), (0x484C, 38, 64, 0), (0x3A0D, 39, 65, 0),
    (0x2EF1, 40, 67, 0), (0x261F, 41, 68, 0), (0x1F33, 42, 69, 0),
    (0x19A8, 43, 70, 0), (0x1518, 44, 72, 0), (0x1177, 45, 73, 0),
    (0x0E74, 46, 74, 0), (0x0BFB, 47, 75, 0), (0x09F8, 48, 77, 0),
    (0x0861, 49, 78, 0), (0x0706, 50, 79, 0), (0x05CD, 51, 48, 0),
    (0x04DE, 52, 50, 0), (0x040F, 53, 50, 0), (0x0363, 54, 51, 0),
    (0x02D4, 55, 52, 0), (0x025C, 56, 53, 0), (0x01F8, 57, 54, 0),
    (0x01A4, 58, 55, 0), (0x0160, 59, 56, 0), (0x0125, 60, 57, 0),
    (0x00F6, 61, 58, 0), (0x00CB, 62, 59, 0), (0x00AB, 63, 61, 0),
    (0x008F, 32, 61, 0), (0x5B12, 65, 65, 1), (0x4D04, 66, 80, 0),
    (0x412C, 67, 81, 0), (0x37D8, 68, 82, 0), (0x2FE8, 69, 83, 0),
    (0x293C, 70, 84, 0), (0x2379, 71, 86, 0), (0x1EDF, 72, 87, 0),
    (0x1AA9, 73, 87, 0), (0x174E, 74, 72, 0), (0x1424, 75, 72, 0),
    (0x119C, 76, 74, 0), (0x0F6B, 77, 74, 0), (0x0D51, 78, 75, 0),
    (0x0BB6, 79, 77, 0), (0x0A40, 48, 77, 0), (0x5832, 81, 80, 1),
    (0x4D1C, 82, 88, 0), (0x438E, 83, 89, 0), (0x3BDD, 84, 90, 0),
    (0x34EE, 85, 91, 0), (0x2EAE, 86, 92, 0), (0x299A, 87, 93, 0),
    (0x2516, 71, 86, 0), (0x5570, 89, 88, 1), (0x4CA9, 90, 95, 0),
    (0x44D9, 91, 96, 0), (0x3E22, 92, 97, 0), (0x3824, 93, 99, 0),
    (0x32B4, 94, 99, 0), (0x2E17, 86, 93, 0), (0x56A8, 96, 95, 1),
    (0x4F46, 97, 101, 0), (0x47E5, 98, 102, 0), (0x41CF, 99, 103, 0),
    (0x3C3D, 100, 104, 0), (0x375E, 93, 99, 0), (0x5231, 102, 105, 0),
    (0x4C0F, 103, 106, 0), (0x4639, 104, 107, 0), (0x415E, 99, 103, 0),
    (0x5627, 106, 105, 1), (0x50E7, 107, 108, 0), (0x4B85, 103, 109, 0),
    (0x5597, 109, 110, 0), (0x504F, 107, 111, 0), (0x5A10, 111, 110, 1),
    (0x5522, 109, 112, 0), (0x59EB, 111, 112, 1),
    # fixed ~0.5 state for AC sign decisions (never adapts)
    (0x5A1D, 113, 113, 0),
)

FIXED_BIN = 113  # the state index of the non-adapting sign bin

# Statistics areas per T.81 Annex F: each context is one byte
# (bit 7 = current MPS, bits 0-6 = state index), all-zero initialized.
DC_STAT_BINS = 64
AC_STAT_BINS = 256


class ArithEncoder:
    """QM encoder (T.81 D.1): interval registers A/C, byte output with
    carry resolution over stacked 0xFF bytes and 0x00 byte stuffing."""

    def __init__(self) -> None:
        self.a = 0x10000
        self.c = 0
        self.ct = 11
        self.buffer = -1  # pending output byte (-1 = none yet)
        self.sc = 0  # stacked 0xFF bytes (may roll to 0x00 via carry)
        self.zc = 0  # pending 0x00 bytes (deferred so trailing zeros drop)
        self.out = bytearray()

    # -- byte output ----------------------------------------------------
    def _emit(self, b: int) -> None:
        self.out.append(b & 0xFF)

    def _flush_zc(self) -> None:
        while self.zc:
            self._emit(0x00)
            self.zc -= 1

    def _byteout(self) -> None:
        t = self.c >> 19
        if t > 0xFF:
            # carry: resolve into the pending byte and roll stacked FFs
            if self.buffer >= 0:
                self._flush_zc()
                self._emit(self.buffer + 1)
                if self.buffer + 1 == 0xFF:
                    self._emit(0x00)  # stuff
            self.zc += self.sc  # carried-over 0xFFs become 0x00
            self.sc = 0
            # 3 spacer bits guarantee the new byte can't be 0xFF here
            self.buffer = t & 0xFF
        elif t == 0xFF:
            self.sc += 1  # stack: may still roll over via a later carry
        else:
            # stacked bytes can no longer overflow — release them
            if self.buffer == 0:
                self.zc += 1
            elif self.buffer >= 0:
                self._flush_zc()
                self._emit(self.buffer)
            if self.sc:
                self._flush_zc()
                while self.sc:
                    self._emit(0xFF)
                    self._emit(0x00)  # stuff
                    self.sc -= 1
            self.buffer = t
        self.c &= 0x7FFFF
        self.ct += 8

    # -- coding ---------------------------------------------------------
    def encode(self, stats: bytearray, ctx: int, val: int) -> None:
        """Encode binary decision ``val`` in context ``stats[ctx]``."""
        sv = stats[ctx]
        qe, nmps, nlps, switch = QE_TABLE[sv & 0x7F]
        mps = sv >> 7
        self.a -= qe
        if val != mps:
            # LPS path (with conditional exchange when MPS got smaller)
            if self.a >= qe:
                self.c += self.a
                self.a = qe
            if switch:
                mps ^= 1
            stats[ctx] = (mps << 7) | nlps
        else:
            # MPS path — state only adapts when renormalization happens
            if self.a >= 0x8000:
                return
            if self.a < qe:
                self.c += self.a
                self.a = qe
            stats[ctx] = (mps << 7) | nmps
        while True:
            self.a = (self.a << 1) & 0x1FFFF
            self.c = (self.c << 1) & 0xFFFFFFF
            self.ct -= 1
            if self.ct == 0:
                self._byteout()
            if self.a & 0x8000:
                break

    def finish(self) -> bytes:
        """Terminate (T.81 D.1.8): pick the code value with the most
        trailing zeros inside the final interval, flush all pending
        bytes. Returns the entropy segment (caller appends markers)."""
        t = (self.a - 1 + self.c) & 0xFFFF0000
        self.c = t + 0x8000 if t < self.c else t
        self.c <<= self.ct
        if self.c & 0xF8000000:
            # one final carry
            if self.buffer >= 0:
                self._flush_zc()
                self._emit(self.buffer + 1)
                if self.buffer + 1 == 0xFF:
                    self._emit(0x00)
            self.zc += self.sc
            self.sc = 0
        else:
            if self.buffer == 0:
                self.zc += 1
            elif self.buffer >= 0:
                self._flush_zc()
                self._emit(self.buffer)
            if self.sc:
                self._flush_zc()
                while self.sc:
                    self._emit(0xFF)
                    self._emit(0x00)
                    self.sc -= 1
        # final code bytes, only when nonzero (trailing zeros may drop)
        if self.c & 0x7FFF800:
            self._flush_zc()
            b = (self.c >> 19) & 0xFF
            self._emit(b)
            if b == 0xFF:
                self._emit(0x00)
            if self.c & 0x7F800:
                b = (self.c >> 11) & 0xFF
                self._emit(b)
                if b == 0xFF:
                    self._emit(0x00)
        return bytes(self.out)


class ArithDecoder:
    """QM decoder over one entropy segment. The byte feeder unstuffs
    0xFF00 and, at a marker (0xFF followed by anything else) or at end
    of data, switches to feeding zero bytes — decoding past the
    segment end is legal and converges (T.81's convention). ``pos``
    stops AT the 0xFF of the terminating marker."""

    def __init__(self, data: bytes, pos: int) -> None:
        self.data = data
        self.pos = pos
        self.marker_hit = False
        b0 = self._next_byte()
        b1 = self._next_byte()
        self.c = (b0 << 8) | b1
        self.ct = 0  # low bits of c beyond the 16-bit interval scale
        self.a = 0x10000

    def _next_byte(self) -> int:
        if self.marker_hit:
            return 0
        d, n, p = self.data, len(self.data), self.pos
        if p >= n:
            self.marker_hit = True
            return 0
        b = d[p]
        if b != 0xFF:
            self.pos = p + 1
            return b
        # swallow fill bytes: the terminating marker may be preceded
        # by any number of 0xFF fill bytes
        q = p + 1
        while q < n and d[q] == 0xFF:
            q += 1
        if q < n and d[q] == 0x00:
            self.pos = q + 1
            return 0xFF  # stuffed zero byte discarded
        self.marker_hit = True
        self.pos = p  # leave the marker for the caller
        return 0

    def decode(self, stats: bytearray, ctx: int) -> int:
        sv = stats[ctx]
        qe, nmps, nlps, switch = QE_TABLE[sv & 0x7F]
        mps = sv >> 7
        self.a -= qe
        mps_scaled = self.a << self.ct
        if self.c >= mps_scaled:
            # code value in the TOP subinterval (nominal LPS region)
            self.c -= mps_scaled
            if self.a < qe:  # conditional exchange: top was the MPS
                d = mps
                stats[ctx] = (mps << 7) | nmps
            else:
                d = mps ^ 1
                if switch:
                    mps ^= 1
                stats[ctx] = (mps << 7) | nlps
            self.a = qe
        else:
            if self.a >= 0x8000:
                return mps  # no renorm: no adaptation
            if self.a < qe:  # conditional exchange: bottom was the LPS
                d = mps ^ 1
                if switch:
                    mps ^= 1
                stats[ctx] = (mps << 7) | nlps
            else:
                d = mps
                stats[ctx] = (mps << 7) | nmps
        while self.a < 0x8000:
            self.a <<= 1
            self.ct -= 1
            if self.ct < 0:
                self.c = ((self.c << 8) | self._next_byte()) & 0xFFFFFFFF
                self.ct += 8
        return d


# ---------------------------------------------------------------------------
# Annex F statistical models (sequential DC/AC). The context layouts
# match T.81 Tables F.4/F.5: per DC table, bins 0-19 hold the S0/SS/
# SP/SN quads for the 5 conditioning categories, X1 starts at 20, the
# magnitude-bit bins at +14; per AC table, bins 3(k-1)..3(k-1)+2 hold
# SE/S0/magnitude for each k, with the high-magnitude regions at
# 189 (k <= Kx) and 217 (k > Kx).
# ---------------------------------------------------------------------------


def encode_dc(
    enc: ArithEncoder, stats: bytearray, ctx_state: list, ci: int,
    diff: int, L: int, U: int,
) -> None:
    st = ctx_state[ci]  # conditioning category base (0/4/8/12/16)
    if diff == 0:
        enc.encode(stats, st, 0)
        ctx_state[ci] = 0
        return
    enc.encode(stats, st, 1)
    if diff > 0:
        enc.encode(stats, st + 1, 0)  # SS: positive
        sp = st + 2
        ctx_state[ci] = 4
        v = diff
    else:
        enc.encode(stats, st + 1, 1)  # SS: negative
        sp = st + 3
        ctx_state[ci] = 8
        v = -diff
    m = 0
    v -= 1
    if v:
        enc.encode(stats, sp, 1)
        m = 1
        sp = 20  # X1
        v2 = v
        while v2 >> 1:
            v2 >>= 1
            enc.encode(stats, sp, 1)
            m <<= 1
            sp += 1
    enc.encode(stats, sp, 0)
    # conditioning category for the NEXT block (F.1.4.4.1.2)
    if m < ((1 << L) >> 1):
        ctx_state[ci] = 0
    elif m > ((1 << U) >> 1):
        ctx_state[ci] += 8
    # magnitude bit pattern
    sp += 14
    while m := m >> 1:
        enc.encode(stats, sp, 1 if (m & v) else 0)


def decode_dc(
    dec: ArithDecoder, stats: bytearray, ctx_state: list, ci: int,
    L: int, U: int,
) -> int:
    st = ctx_state[ci]
    if dec.decode(stats, st) == 0:
        ctx_state[ci] = 0
        return 0
    sign = dec.decode(stats, st + 1)
    sp = st + 2 + sign
    ctx_state[ci] = 4 + sign * 4
    m = dec.decode(stats, sp)
    if m:
        sp = 20  # X1
        while dec.decode(stats, sp):
            m <<= 1
            if m == 0x8000:
                raise ValueError("DC magnitude overflow")
            sp += 1
    if m < ((1 << L) >> 1):
        ctx_state[ci] = 0
    elif m > ((1 << U) >> 1):
        ctx_state[ci] += 8
    v = m
    sp += 14
    while m := m >> 1:
        if dec.decode(stats, sp):
            v |= m
    v += 1
    return -v if sign else v


def encode_ac(
    enc: ArithEncoder, stats: bytearray, fixed: bytearray, coeffs, Kx: int,
) -> None:
    """``coeffs``: the 64 quantized coefficients in ZIGZAG order; codes
    the AC band 1..63."""
    ke = 0  # index of the last nonzero AC coefficient (0: none)
    for k in range(63, 0, -1):
        if coeffs[k]:
            ke = k
            break
    k = 1
    while k <= ke:
        st = 3 * (k - 1)
        enc.encode(stats, st, 0)  # not EOB
        v = int(coeffs[k])
        while v == 0:
            enc.encode(stats, st + 1, 0)
            st += 3
            k += 1
            v = int(coeffs[k])
        enc.encode(stats, st + 1, 1)
        if v > 0:
            enc.encode(fixed, 0, 0)
        else:
            v = -v
            enc.encode(fixed, 0, 1)
        sp = st + 2
        m = 0
        v -= 1
        if v:
            enc.encode(stats, sp, 1)
            m = 1
            v2 = v
            if v2 >> 1:
                v2 >>= 1
                enc.encode(stats, sp, 1)  # second decision: SAME bin
                m <<= 1
                sp = 189 if k <= Kx else 217
                while v2 >> 1:
                    v2 >>= 1
                    enc.encode(stats, sp, 1)
                    m <<= 1
                    sp += 1
        enc.encode(stats, sp, 0)
        sp += 14
        while m := m >> 1:
            enc.encode(stats, sp, 1 if (m & (v)) else 0)
        k += 1
    if ke < 63:
        enc.encode(stats, 3 * ke, 1)  # EOB


def decode_ac(
    dec: ArithDecoder, stats: bytearray, fixed: bytearray, block, Kx: int,
) -> None:
    """Fills ``block`` (64 entries, ZIGZAG order) for the AC band
    1..63."""
    k = 1
    while k <= 63:
        st = 3 * (k - 1)
        if dec.decode(stats, st):
            return  # EOB
        while dec.decode(stats, st + 1) == 0:
            st += 3
            k += 1
            if k > 63:
                raise ValueError("AC run past end of band")
        sign = dec.decode(fixed, 0)
        sp = st + 2
        m = dec.decode(stats, sp)
        if m:
            if dec.decode(stats, sp):
                m <<= 1
                sp = 189 if k <= Kx else 217
                while dec.decode(stats, sp):
                    m <<= 1
                    if m == 0x8000:
                        raise ValueError("AC magnitude overflow")
                    sp += 1
        v = m
        sp += 14
        while m := m >> 1:
            if dec.decode(stats, sp):
                v |= m
        v += 1
        block[k] = -v if sign else v
        k += 1
