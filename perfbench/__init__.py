"""Same-host benchmark of the CEP engine; see README.md."""
