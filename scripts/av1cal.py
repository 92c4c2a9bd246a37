#!/usr/bin/env python3
"""Full-plane AV1 calibration vectors (reference-decoded planes).

Re-encodes the SAME members as avif_heif_reference.py's sweep /
palsweep / cdefsweep commands (same PRNG, same options), but emits the
raw OBU payload plus the REFERENCE decoder's full pixel planes, so a
decoder run can be compared pixel by pixel per plane:

  python3 scripts/av1cal.py cdefsweep 30 20260816 > /tmp/vecs.jsonl

The per-plane divergence reporter that read these lines, Av1CalMain,
is at src/test/scala/graft/operators/av1/Av1CalMain.scala at commit
8a34f78; the committed goldens built from them are pinned by Av1Spec.

JSON-lines fields: name, w, h, depth, payload (hex OBU bytes),
planes (array of hex strings; 8-bit = 1 byte/sample, else u16 LE),
cropped to the visible plane dims (420/422 chroma = ceil halving).
"""
import ctypes
import importlib.util
import json
import os
import sys

_spec = importlib.util.spec_from_file_location(
    "ahr", os.path.join(os.path.dirname(__file__), "avif_heif_reference.py"))
ahr = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(ahr)


def mdat_payload(data):
    """Primary item payload. All sweep members are single-item files
    written by libavif (iloc construction 0, one extent = mdat body)."""
    for typ, bs, be in ahr.boxes(data, 0, len(data)):
        if typ == "mdat":
            return data[bs:be]
    raise AssertionError("no mdat")


def decode_planes(av, data):
    dec = av.avifDecoderCreate()
    img = av.avifImageCreate(0, 0, 8, 0)
    r = av.avifDecoderReadMemory(dec, img, data, len(data))
    assert r == 0, f"reference avif decode failed: {r}"
    u32 = (ctypes.c_uint32 * 32).from_address(img)
    u64 = (ctypes.c_uint64 * 16).from_address(img)
    w, h, depth, fmt = u32[0], u32[1], u32[2], u32[3]
    if fmt == 3:
        dims = [(w, h), ((w + 1) // 2, (h + 1) // 2),
                ((w + 1) // 2, (h + 1) // 2)]
    elif fmt == 2:
        dims = [(w, h), ((w + 1) // 2, h), ((w + 1) // 2, h)]
    elif fmt == 1:
        dims = [(w, h)] * 3
    else:
        dims = [(w, h)]
    planes = []
    for p, (pw, ph) in enumerate(dims):
        ptr = u64[3 + p]
        if not ptr:
            continue
        rb = u32[12 + p]
        out = bytearray()
        if depth == 8:
            buf = (ctypes.c_uint8 * (rb * ph)).from_address(ptr)
            for y in range(ph):
                out += bytes(buf[y * rb:y * rb + pw])
        else:
            buf = (ctypes.c_uint16 * (rb * ph // 2)).from_address(ptr)
            for y in range(ph):
                for v in buf[y * (rb // 2):y * (rb // 2) + pw]:
                    out += v.to_bytes(2, "little")
        planes.append(bytes(out).hex())
    return w, h, depth, planes


def lcg(seed):
    state = seed

    def rnd(bound):
        nonlocal state
        state = (state * 6364136223846793005
                 + 1442695040888963407) % (1 << 64)
        return (state >> 33) % bound
    return rnd


def gen_cdefsweep(av, n, seed):
    av.avifEncoderSetCodecSpecificOption.restype = ctypes.c_int
    av.avifEncoderSetCodecSpecificOption.argtypes = [
        ctypes.c_void_p, ctypes.c_char_p, ctypes.c_char_p]
    rnd = lcg(seed)
    for i in range(n):
        w = 10 + rnd(110)
        h = 10 + rnd(80)
        depth = [8, 8, 8, 10][rnd(4)]
        fmt = [3, 2, 1, 4][rnd(4)]
        data = ahr.avif_encode(av, w, h, depth, fmt, False, seed + i * 977,
                               opts=[("enable-cdef", "1"),
                                     ("enable-restoration", "0")],
                               smooth=True, minq=30 + rnd(15),
                               maxq=55 + rnd(9), speed=6)
        yield f"c{i:04d}", data


def gen_lrsweep(av, n, seed):
    """Loop-restoration members: smooth content, moderate-to-heavy q,
    restoration ENABLED (cdef too — both on is the aom default path)."""
    av.avifEncoderSetCodecSpecificOption.restype = ctypes.c_int
    av.avifEncoderSetCodecSpecificOption.argtypes = [
        ctypes.c_void_p, ctypes.c_char_p, ctypes.c_char_p]
    rnd = lcg(seed)
    for i in range(n):
        w = 10 + rnd(150)
        h = 10 + rnd(120)
        depth = [8, 8, 8, 10][rnd(4)]
        fmt = [3, 2, 1, 4][rnd(4)]
        data = ahr.avif_encode(av, w, h, depth, fmt, False, seed + i * 977,
                               opts=[("enable-cdef", "1"),
                                     ("enable-restoration", "1")],
                               smooth=True, minq=25 + rnd(20),
                               maxq=50 + rnd(14), speed=6)
        yield f"r{i:04d}", data


def gen_s4sweep(av, n, seed):
    # Shared draw sequence — ahr.s4sweep_members is the only definition
    # (ADVICE r17: a PRNG-identical local copy kept the banked repro
    # names f0012/f0023 regenerable only by accident).
    for name, data, _w, _h, _d, _f in ahr.s4sweep_members(av, n, seed):
        yield name, data


def gen_sweep(av, n, seed):
    rnd = lcg(seed)
    for i in range(n):
        w = 1 + rnd(120)
        h = 1 + rnd(90)
        depth = [8, 8, 10][rnd(3)]
        fmt = [3, 1, 4, 2][rnd(4)]
        alpha = rnd(4) == 0
        data = ahr.avif_encode(av, w, h, depth, fmt, alpha, seed + i * 977)
        if alpha:
            continue  # two-item file; mdat_payload would mix items
        yield f"s{i:04d}", data


def main():
    mode, n, seed = sys.argv[1], int(sys.argv[2]), int(sys.argv[3])
    av = ahr.load_avif()
    gen = {"cdefsweep": gen_cdefsweep, "lrsweep": gen_lrsweep,
           "sweep": gen_sweep, "s4sweep": gen_s4sweep}[mode]
    only = set(sys.argv[4].split(",")) if len(sys.argv) > 4 else None
    for name, data in gen(av, n, seed):
        if only and name not in only:
            continue
        w, h, depth, planes = decode_planes(av, data)
        payload = mdat_payload(data)
        print(json.dumps(dict(name=name, w=w, h=h, depth=depth,
                              payload=payload.hex(), planes=planes)))


if __name__ == "__main__":
    main()
