"""Output checks for sync scripts: the exact statement set, and a hash
that ignores the script's timestamp line."""
import hashlib

_STMT = ("INSERT INTO `", "UPDATE `", "DELETE FROM `")


def statements(text):
    """The script's INSERT/UPDATE/DELETE lines, in order."""
    return [l for l in text.split("\n") if l.startswith(_STMT)]


def ops_match(text, expected):
    """True when the script holds each expected statement exactly once
    and no other."""
    got = statements(text)
    return len(got) == len(set(got)) and set(got) == expected


def masked_sha256(text):
    """sha256 of the script with its `-- Generated on:` line blanked."""
    lines = ["-- Generated on:" if l.startswith("-- Generated on:") else l
             for l in text.split("\n")]
    return hashlib.sha256("\n".join(lines).encode("utf-8")).hexdigest()


def drop_one_statement(text):
    """The script with its first statement removed: a copy the statement
    check must reject."""
    lines = text.split("\n")
    i = next((i for i, l in enumerate(lines) if l.startswith(_STMT)), None)
    return text if i is None else "\n".join(lines[:i] + lines[i + 1:])
