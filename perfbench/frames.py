"""Seeded APRS-IS frame generator, independent of the program under test.

``FrameSource(seed).frames(n, start)`` returns the same frames, byte for
byte, for the same arguments.  The mix covers the ten reference formats (uncompressed,
compressed, mic-e, object, status, wx, beacon, bulletin, message and
telemetry-message), ``T#`` telemetry data, third-party ``}`` traffic and a
share of malformed frames that must dead-letter.  Senders are drawn from a
skewed callsign population; every callsign owns one fixed set of
telemetry equations, so an ``EQNS`` frame re-sent in the timed window never
changes calibration once :meth:`FrameSource.priming_frames` has gone
through.

The population size, 9,000 callsigns, is the calibration state the
program's own soak measured (about 9,000 callsign keys; see the broadcast
calibrator's notes in ``sinks/influxdb.py``).  The format weights in
``MIX`` and the Zipf skew are assumptions: no captured APRS-IS traffic
ships with the repository to take them from.

Every frame with an APRS header carries its sequence number as its last
path element (``Q<8 digits>``).  The program renders the path and the raw
frame into each line, so an InfluxDB stub can match a written line to the
frame, and so to the time the frame was due.
"""

from __future__ import annotations

import random
import re

SEQ_RE = re.compile(rb"Q(\d{8})")
N_CALLS = 9000  # senders: the calibration state size the program's soak measured
ZIPF_S = 1.1  # assumed skew of frames over senders

# (kind, weight) of the timed mix, assumed; kinds map to the payload functions below
MIX = [
    ("uncompressed", 20), ("compressed", 7), ("mic-e", 9), ("object", 5),
    ("status", 9), ("wx", 7), ("beacon", 5), ("bulletin", 4), ("message", 8),
    ("telemetry", 10), ("eqns", 3), ("parm", 1), ("third-party", 4),
    ("malformed", 4), ("ack", 4),
]
WORDS = (
    "net control weather digi igate mobile home base fire rescue storm "
    "relay test field day node repeater hill tower battery solar voltage"
).split()
_B91 = "".join(chr(33 + i) for i in range(91))


def _callsigns(rng: random.Random, n: int) -> list[str]:
    letters = "ABCDEFGHIJKLMNOPRSTUVWXYZ"  # no Q: Q<digits> is the seq tag
    out: set[str] = set()
    while len(out) < n:
        call = (
            rng.choice("KNW") + rng.choice(letters) + str(rng.randrange(10))
            + "".join(rng.choice(letters) for _ in range(rng.randrange(1, 4)))
        )
        if rng.random() < 0.3:
            call += f"-{rng.randrange(1, 16)}"
        out.add(call)
    return sorted(out)


def _b91(v: int, width: int) -> str:
    digits = []
    for _ in range(width):
        v, r = divmod(v, 91)
        digits.append(_B91[r])
    return "".join(reversed(digits))


def _eqns(rng: random.Random) -> str:
    coeffs = []
    for _ in range(5):
        coeffs += [rng.choice([0, 0, 0.001, 0.5]), rng.choice([1, 0.25, 2, 0.1]),
                   rng.choice([0, -10, 3.5, 100])]
    return ",".join(f"{c:g}" for c in coeffs)


class FrameSource:
    """The seeded population: callsigns, their equations and frame mix."""

    def __init__(self, seed: int) -> None:
        self.seed = seed
        rng = random.Random(f"calls:{seed}")
        self.calls = _callsigns(rng, N_CALLS)
        self.eqns = {c: _eqns(rng) for c in self.calls}
        weights = [1.0 / (k + 1) ** ZIPF_S for k in range(N_CALLS)]
        rng.shuffle(weights)
        acc, self._cum = 0.0, []
        for w in weights:
            acc += w
            self._cum.append(acc)
        kacc, self._kind_cum, self._kinds = 0, [], []
        for kind, w in MIX:
            kacc += w
            self._kind_cum.append(kacc)
            self._kinds.append(kind)

    # -- one frame --------------------------------------------------------
    def frame(self, rng: random.Random, seq: int, kind: str | None = None) -> str:
        kind = kind or rng.choices(self._kinds, cum_weights=self._kind_cum)[0]
        call = rng.choices(self.calls, cum_weights=self._cum)[0]
        tag = f"Q{seq:08d}"
        if kind == "malformed":
            return _MALFORMED[rng.randrange(len(_MALFORMED))](call, tag, rng)
        dest = "APRS"
        if kind == "mic-e":
            dest, payload = _mice(rng)
        else:
            payload = _PAYLOAD[kind](self, rng, call)
        path = rng.choice(["TCPIP*,qAC", "WIDE1-1,WIDE2-1,qAR", "qAS"])
        return f"{call}>{dest},{path},{tag}:{payload}"

    def frames(self, n: int, start: int = 0, stream: str = "timed") -> list[str]:
        """``n`` frames numbered ``start ..``; the same arguments always give
        the same frames."""
        rng = random.Random(f"{stream}:{self.seed}:{start}")
        return [self.frame(rng, start + i) for i in range(n)]

    def priming_frames(self) -> list[str]:
        """One ``EQNS`` frame per callsign, numbered from 0: fixes every
        sender's calibration before any timed frame arrives."""
        return [
            f"{call}>APRS,TCPIP*,Q{i:08d}::{call:<9}:EQNS.{self.eqns[call]}"
            for i, call in enumerate(self.calls)
        ]


def _words(rng: random.Random, k: int) -> str:
    return " ".join(rng.choice(WORDS) for _ in range(k))


def _latlon(rng: random.Random) -> str:
    lat = f"{rng.randrange(90):02d}{rng.randrange(60):02d}.{rng.randrange(100):02d}"
    lon = f"{rng.randrange(180):03d}{rng.randrange(60):02d}.{rng.randrange(100):02d}"
    table = rng.choice("/\\")
    return f"{lat}{rng.choice('NS')}{table}{lon}{rng.choice('EW')}"


def _uncompressed(src: FrameSource, rng: random.Random, call: str) -> str:
    lead = rng.choice("!=/@")
    ts = "010000z" if lead in "/@" else ""  # day 1, 00:00: never in the future
    ext = rng.choice([
        "", f"{rng.randrange(360):03d}/{rng.randrange(200):03d}",
        f"PHG{rng.randrange(10000):04d}", f"RNG{rng.randrange(1, 10000):04d}",
    ])
    alt = f" /A={rng.randrange(0, 30000):06d}" if rng.random() < 0.3 else ""
    dao = f" !W{rng.randrange(10)}{rng.randrange(10)}!" if rng.random() < 0.1 else ""
    return f"{lead}{ts}{_latlon(rng)}{rng.choice('->k_')}{ext}{_words(rng, 3)}{alt}{dao}"


def _compressed(src: FrameSource, rng: random.Random, call: str) -> str:
    lat = rng.uniform(-89.0, 89.0)
    lon = rng.uniform(-179.0, 179.0)
    latv = _b91(int((90.0 - lat) * 380926), 4)
    lonv = _b91(int((180.0 + lon) * 190463), 4)
    cs = rng.choice([
        "  ", f"{chr(33 + rng.randrange(90))}{chr(33 + rng.randrange(60))}",
        "{" + chr(33 + rng.randrange(60)),
    ])
    tbyte = " " if cs == "  " else chr(33 + rng.choice([0x20, 0x00]))
    return f"{rng.choice('!=')}/{latv}{lonv}>{cs}{tbyte}{_words(rng, 2)}"


def _mice(rng: random.Random) -> tuple[str, str]:
    lat = f"{rng.randrange(10, 90):02d}{rng.randrange(60):02d}{rng.randrange(100):02d}"
    dest = ""
    for i, ch in enumerate(lat):
        bit = rng.random() < 0.5 if i < 3 else i in (3, 5)  # north, west
        if i == 4:
            bit = False  # longitude offset 0
        dest += "PQRSTUVWXY"[int(ch)] if bit else ch
    d, m, h = rng.randrange(10, 99), rng.randrange(60), rng.randrange(10, 99)
    speed, course = rng.randrange(0, 190), rng.randrange(360)
    if course % 100 < 4:
        course += 4
    body = (
        chr(d + 28) + chr((m if m >= 10 else m + 60) + 28) + chr(h + 28)
        + chr(speed // 10 + 80 + 28) + chr((speed % 10) * 10 + (course // 100 + 4) + 28)
        + chr(course % 100 + 28) + rng.choice(">kuv") + "/"
    )
    if rng.random() < 0.4:
        body += _b91(rng.randrange(10000, 12000), 3) + "}"
    return dest, rng.choice("`'") + body + _words(rng, 2)


def _object(src: FrameSource, rng: random.Random, call: str) -> str:
    name = f"{rng.choice(WORDS)[:6].upper()}{rng.randrange(100)}"[:9]
    return f";{name:<9}{rng.choice('*_')}010000z{_latlon(rng)}>{_words(rng, 2)}"


def _status(src: FrameSource, rng: random.Random, call: str) -> str:
    ts = "010000z" if rng.random() < 0.3 else ""
    return f">{ts}{_words(rng, 4)}"


def _wx(src: FrameSource, rng: random.Random, call: str) -> str:
    groups = (
        f"c{rng.randrange(360):03d}s{rng.randrange(100):03d}g{rng.randrange(100):03d}"
        f"t{rng.randrange(-20, 110):03d}"
    )
    if rng.random() < 0.5:
        groups += f"r{rng.randrange(100):03d}p{rng.randrange(300):03d}h{rng.randrange(100):02d}"
        groups += f"b{rng.randrange(9800, 10400):05d}"
    return f"_{rng.randrange(1, 13):02d}{rng.randrange(1, 29):02d}{rng.randrange(24):02d}" \
           f"{rng.randrange(60):02d}{groups}{rng.choice(['', 'wRSW', 'xDvs'])}"


def _beacon(src: FrameSource, rng: random.Random, call: str) -> str:
    return rng.choice("<$%") + _words(rng, 3)


def _bulletin(src: FrameSource, rng: random.Random, call: str) -> str:
    return f":BLN{rng.randrange(10)}     :{_words(rng, 5)}"


def _message(src: FrameSource, rng: random.Random, call: str) -> str:
    to = rng.choice(src.calls)
    no = f"{{{rng.randrange(1, 1000)}" if rng.random() < 0.7 else ""
    return f":{to:<9}:{_words(rng, 4)}{no}"


def _ack(src: FrameSource, rng: random.Random, call: str) -> str:
    return f":{rng.choice(src.calls):<9}:{rng.choice(['ack', 'rej'])}{rng.randrange(1, 1000)}"


def _telemetry(src: FrameSource, rng: random.Random, call: str) -> str:
    vals = ",".join(str(rng.randrange(256)) for _ in range(5))
    bits = "".join(rng.choice("01") for _ in range(8))
    return f"T#{rng.randrange(1000):03d},{vals},{bits}"


def _eqns_frame(src: FrameSource, rng: random.Random, call: str) -> str:
    return f":{call:<9}:EQNS.{src.eqns[call]}"


def _parm(src: FrameSource, rng: random.Random, call: str) -> str:
    return f":{call:<9}:{rng.choice(['PARM.', 'UNIT.', 'BITS.'])}{_words(rng, 2)}"


def _third_party(src: FrameSource, rng: random.Random, call: str) -> str:
    inner = rng.choice(src.calls)
    return f"}}{inner}>APRS,TCPIP,{call}*:>{_words(rng, 3)}"


_PAYLOAD = {
    "uncompressed": _uncompressed, "compressed": _compressed, "object": _object,
    "status": _status, "wx": _wx, "beacon": _beacon, "bulletin": _bulletin,
    "message": _message, "ack": _ack, "telemetry": _telemetry, "eqns": _eqns_frame,
    "parm": _parm, "third-party": _third_party,
}

_MALFORMED = [
    lambda call, tag, rng: f"{tag} no header {_words(rng, 2)}",
    lambda call, tag, rng: f"{call}>APRS,{tag}:!~~ bad position {_words(rng, 1)}",
    lambda call, tag, rng: f"{call}>APRS,{tag}:/12345",
    lambda call, tag, rng: f"{call}>APRS,{tag}::SHORT:{_words(rng, 1)}",
    lambda call, tag, rng: f"{call}>APRS,{tag}:_10{rng.randrange(10)}",
]
