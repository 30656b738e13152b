"""Layer-attributed benchmark of the table store; see README.md."""
