#!/usr/bin/env python3
"""The r18 final-fuzz corpus generator (deterministic): 12-bit palette
members, 12-bit restoration-heavy members, and 150-300px multi-SB
frames at mixed depths. 27/28 decode pixel-exact at r18 close; member
big_03 (235x211 12-bit, lf=47) is the banked OPEN deblock-corner class
(NOTES_r18 ledger — ±1-2 on 62 pixels at the bottom-right crop corner).

  python3 scripts/av1_bigfuzz.py > /tmp/final_fuzz.jsonl

The r18 reporter that read this corpus, Av1CalMain, is at
src/test/scala/graft/operators/av1/Av1CalMain.scala at commit 8a34f78;
the committed big-fuzz members are pinned by Av1Spec.
"""
import ctypes
import importlib.util
import json
import os

_d = os.path.dirname(__file__)
_s = importlib.util.spec_from_file_location(
    "ahr", os.path.join(_d, "avif_heif_reference.py"))
ahr = importlib.util.module_from_spec(_s)
_s.loader.exec_module(ahr)
_c = importlib.util.spec_from_file_location(
    "av1cal", os.path.join(_d, "av1cal.py"))
av1cal = importlib.util.module_from_spec(_c)
_c.loader.exec_module(av1cal)


def main():
    av = ahr.load_avif()
    av.avifEncoderSetCodecSpecificOption.restype = ctypes.c_int
    av.avifEncoderSetCodecSpecificOption.argtypes = [
        ctypes.c_void_p, ctypes.c_char_p, ctypes.c_char_p]
    state = 987654

    def rnd(b):
        nonlocal state
        state = (state * 6364136223846793005
                 + 1442695040888963407) % (1 << 64)
        return (state >> 33) % b

    def emit(name, data):
        w, h, dd, planes = av1cal.decode_planes(av, data)
        print(json.dumps(dict(name=name, w=w, h=h, depth=dd,
                              payload=av1cal.mdat_payload(data).hex(),
                              planes=planes)))

    for i in range(10):
        w = 16 + rnd(100)
        h = 16 + rnd(80)
        fmt = [3, 1, 4][rnd(3)]
        try:
            emit(f"p12_{i:02d}", ahr.avif_encode_paletted(
                av, w, h, 12, fmt, 987654 + i * 31, speed=[4, 6][rnd(2)]))
        except Exception:
            pass
    for i in range(10):
        w = 40 + rnd(140)
        h = 40 + rnd(120)
        minq = 20 + rnd(30)
        try:
            emit(f"r12_{i:02d}", ahr.avif_encode(
                av, w, h, 12, [3, 1, 4, 2][rnd(4)], False, 555000 + i * 977,
                opts=[("enable-cdef", "1"), ("enable-restoration", "1")],
                smooth=True, minq=minq, maxq=min(63, minq + 10), speed=4))
        except Exception:
            pass
    for i in range(8):
        w = 150 + rnd(150)
        h = 130 + rnd(120)
        depth = [8, 10, 12][rnd(3)]
        minq = 10 + rnd(40)
        try:
            emit(f"big_{i:02d}", ahr.avif_encode(
                av, w, h, depth, [3, 1, 4, 2][rnd(4)], False, 111000 + i * 977,
                opts=[("enable-cdef", str(rnd(2))),
                      ("enable-restoration", str(rnd(2)))],
                smooth=(rnd(2) == 1), minq=minq, maxq=min(63, minq + 8),
                speed=[4, 6][rnd(2)]))
        except Exception:
            pass


if __name__ == '__main__':
    main()
