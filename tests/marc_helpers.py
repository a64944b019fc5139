"""Shared MARC record helpers for tests that need ISO2709 input
without a fixture file."""


def build_iso2709(fields):
    """Author a minimal MARC-8 ISO2709 record (leader[9]=' ') from
    ``(tag, data bytes)`` pairs; datafield data carries its indicators
    and ``\\x1f``-delimited subfields."""
    body = b""
    directory = b""
    for tag, data in fields:
        data = data + b"\x1e"
        directory += f"{tag}{len(data):04d}{len(body):05d}".encode()
        body += data
    directory += b"\x1e"
    base = 24 + len(directory)
    total = base + len(body) + 1
    leader = (
        f"{total:05d}".encode()
        + b"nam  22"
        + f"{base:05d}".encode()
        + b"   4500"
    )
    assert len(leader) == 24 and leader[9:10] == b" "
    return leader + directory + body + b"\x1d"
